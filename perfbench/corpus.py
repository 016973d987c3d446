"""The benchmark corpus, modelled in plain Python, and its query generators.

The corpus is ``sources.corpus.synthesize_corpus(sf0.1, replicas=8,
enrich_vocab=True)``. ``CorpusModel`` rebuilds the same documents from the
same ``documents.parquet`` with the synthesizer's rules (replica urls,
enrichment tokens, latest-crawl dedupe) and analyzes each distinct text once
with the engine's analyzer chain. Reference answers then come from this
model, never from an index the engine built.

Replicas share their text, so every per-document quantity is kept once per
base document (5,000 of them) and expanded to the 8 replica doc ids only
when a ranking is cut.
"""

from __future__ import annotations

import os
import re
from collections import Counter

import numpy as np

# sf0.1 documents table (5,000 docs), in the layout synthesize_corpus reads
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
DATA = os.path.join(SF_DIR, "documents.parquet")
REPLICAS = 8
DEFAULT_SEED = 777  # the seed bench.py used for its 2,000-query batch
# Zipf exponent of interactive's term draws over df rank. An assumption:
# no query log exists for this corpus, so this is the classic Zipf shape,
# not a measured one
ZIPF_EXPONENT = 1.0

_RAW_TOKEN = re.compile(r"[a-z0-9]+")
POS_BITS = 21  # token positions of this corpus stay far below 2**21


def read_documents() -> list[tuple[int, str, str, str]]:
    """→ [(doc_id, source, text, lang)] sorted by doc_id."""
    import pyarrow.parquet as pq

    t = pq.read_table(DATA, columns=["doc_id", "source", "text", "lang"])
    rows = zip(*(t.column(c).to_pylist() for c in t.column_names))
    return sorted(rows)


def enriched_text(doc_id: int, text: str | None) -> str:
    """The synthesizer's ``enrich_vocab`` text: the document text plus two
    doc-unique hapax tokens and one token per Zipf level."""
    from tesserae_ng_spark.sources.corpus import ZIPF_LEVELS

    extra = [f"hapaxa{doc_id:08d}", f"hapaxb{doc_id:08d}"] + [
        f"zipf{j}x{doc_id % (1 << j)}" for j in ZIPF_LEVELS
    ]
    return " ".join(([text] if text is not None else []) + extra)


class CorpusModel:
    """Per-base-document analysis of the benchmark corpus.

    Attributes: ``doc_ids`` (n_base × REPLICAS int64, the engine's
    ``xxhash64(url)`` ids), ``dl`` (tokens per base doc), ``postings``
    (term → (base index array, tf array)), ``occ`` (term → sorted
    occurrence keys ``base << POS_BITS | position``), ``n_docs``,
    ``avg_dl``, ``raw_df`` (raw
    token → base-doc df over the enriched text) and ``bench_vocab`` (the
    vocabulary bench.py feeds ``fixtures.make_queries``).
    """

    def __init__(self, docs: list[tuple[int, str, str, str]] | None = None):
        """``docs`` = [(doc_id, source, text, lang)], default the sf0.1 table."""
        from tesserae_ng_spark.functions.analysis import analyze
        from tesserae_ng_spark.query.reader import _xxhash64_str
        from tesserae_ng_spark.sources.corpus import enrichment_vocab

        docs = read_documents() if docs is None else docs
        n = len(docs)
        memo: dict[str, str] = {}
        self.doc_ids = np.empty((n, REPLICAS), dtype=np.int64)
        self.dl = np.empty(n, dtype=np.int64)
        plists: dict[str, tuple[list[int], list[int]]] = {}
        occ: dict[str, list[int]] = {}
        raw_df: Counter = Counter()
        plain_df: Counter = Counter()
        for bi, (doc_id, source, text, lang) in enumerate(docs):
            for r in range(REPLICAS):
                url = f"https://{source}-r{r}.example.com/{doc_id:08d}"
                self.doc_ids[bi, r] = _xxhash64_str(url)
            # the older duplicate crawl (doc_id % 50 == 0) loses the
            # latest-wins dedupe, so every url keeps its full text
            full = enriched_text(doc_id, text)
            toks = analyze(full, lang, _memo=memo)
            self.dl[bi] = len(toks)
            pos: dict[str, list[int]] = {}
            for term, p in toks:
                pos.setdefault(term, []).append(p)
            for t, ps in pos.items():
                ent = plists.setdefault(t, ([], []))
                ent[0].append(bi)
                ent[1].append(len(ps))
                occ.setdefault(t, []).extend((bi << POS_BITS) | p for p in ps)
            raw_df.update(set(_RAW_TOKEN.findall(full.lower())))
            plain_df.update(set(_RAW_TOKEN.findall((text or "").lower())))
        self.postings = {
            t: (np.asarray(b, dtype=np.int64), np.asarray(f, dtype=np.float64))
            for t, (b, f) in plists.items()
        }
        self.occ = {t: np.asarray(k, dtype=np.int64) for t, k in occ.items()}
        self.n_base = n
        self.n_docs = n * REPLICAS
        self.total_tokens = int(self.dl.sum()) * REPLICAS
        self.avg_dl = self.total_tokens / self.n_docs
        self.n_terms = len(self.postings)
        self.raw_df = raw_df
        ids = [d[0] for d in docs]
        vocab = [(t, c * REPLICAS) for t, c in plain_df.items()] + [
            (t, c * REPLICAS)
            for t, c in enrichment_vocab([min(ids), max(ids)], len(ids))
        ]
        vocab.sort(key=lambda p: (-p[1], p[0]))
        self.bench_vocab = vocab

    def positions(self, bi: int, term: str) -> np.ndarray:
        """Sorted token positions of ``term`` in base doc ``bi``."""
        k = self.occ[term]
        lo, hi = np.searchsorted(k, [bi << POS_BITS, (bi + 1) << POS_BITS])
        return k[lo:hi] & ((1 << POS_BITS) - 1)

    def term_df(self) -> dict[str, int]:
        """Expected dictionary: term → document frequency."""
        return {t: int(b.size) * REPLICAS for t, (b, _) in self.postings.items()}


def _pickled(path: str, make):
    import pickle

    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    obj = make()
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        pickle.dump(obj, f, protocol=pickle.HIGHEST_PROTOCOL)
    os.replace(tmp, path)
    return obj


def load_model(cache_dir: str) -> CorpusModel:
    """The corpus model, pickled under ``cache_dir`` after the first build."""
    return _pickled(os.path.join(cache_dir, "corpus_model.pkl"), CorpusModel)


def load_vocab(cache_dir: str) -> dict:
    """The two query vocabularies, small enough to load before timing
    starts: ``raw`` = raw tokens by df rank, ``bench`` = bench.py's
    (term, df) list."""
    def make():
        m = load_model(cache_dir)
        raw = sorted(m.raw_df.items(), key=lambda p: (-p[1], p[0]))
        return {"raw": [t for t, _ in raw], "bench": m.bench_vocab}

    return _pickled(os.path.join(cache_dir, "vocab.pkl"), make)


def k_for(i: int) -> int:
    """FIXTURES.md k mix, the rule fixtures.make_queries uses: mostly 10,
    every 7th query cycles through 10, 1, 100."""
    return [10, 1, 100][i % 3] if i % 7 == 0 else 10


# FIXTURES.md mode mix per 20 queries: (mode, terms, count)
MIX = (("bm25", 1, 8), ("bm25", 2, 6), ("bm25", 3, 3), ("phrase", 2, 2),
       ("proximity", 2, 1))


def zipf_queries(terms: list[str], n: int, seed: int) -> list[dict]:
    """``n`` queries (a multiple of 20) in the FIXTURES.md mode mix — 40%
    one-term, 30% two-term, 15% three-term bm25, 10% phrase, 5% proximity;
    k per ``k_for`` — whose terms are drawn Zipf-by-df-rank from ``terms``
    (raw tokens, df descending), so head terms — the long postings — reach
    the latency tail.

    Sampling is stratified, so every seed yields the same composition: the
    mix holds exactly in every block of 20 queries, and the term draws take
    one uniform per equal-probability stratum of the Zipf CDF. The seed
    decides which terms fill which query, and the query order."""
    rng = np.random.default_rng(seed)
    w = 1.0 / np.arange(1, len(terms) + 1) ** ZIPF_EXPONENT
    cdf = np.cumsum(w / w.sum())
    shapes = []
    for _ in range(n // 20):
        block = [(mode, m) for mode, m, c in MIX for _ in range(c)]
        shapes += [block[i] for i in rng.permutation(len(block))]
    n_terms = sum(m for _, m in shapes)
    u = (rng.permutation(n_terms) + rng.random(n_terms)) / n_terms
    ranks = np.minimum(np.searchsorted(cdf, u), len(terms) - 1)
    out, pos = [], 0
    for i, (mode, m) in enumerate(shapes):
        picked = [terms[r] for r in ranks[pos:pos + m]]
        pos += m
        # a repeated head term: redraw the repeat until the terms differ
        while len(set(picked)) < m:
            picked = list(dict.fromkeys(picked))
            picked.append(terms[min(int(np.searchsorted(cdf, rng.random())), len(terms) - 1)])
        out.append(dict(query_id=i, query_text=" ".join(picked), mode=mode,
                        k=k_for(i)))
    return out
