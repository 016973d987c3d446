"""The three workloads. Each returns a Result: end-to-end metrics, per-layer
metrics (traced runs), operation counts and the reference-check outcome.

Engine entry points used: ``index.builder.build_index``,
``index.sharded_build.build_sharded_indexes``, ``query.search.Searcher``,
``query.sharded.search_sharded`` (plus ``prime_shard_workers``, the
sharded service's warm-up, and ``session.get_spark``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import trace
from perfbench.corpus import DEFAULT_SEED, REPLICAS, SF_DIR

# build parameters bench.py uses for this corpus
BUILD_KW = dict(n_parts=4, target_postings_per_salt=1 << 14, n_buckets=16)
SHARD_KW = dict(target_postings_per_salt=1 << 14, n_buckets=4)
N_SHARDS = 8
BATCH_QUERIES = 2000
WARM_MB = 64.0  # the latency service's head-term warm budget (bench.py)
OPENS = 3  # Searcher opens in interactive set-up; setup_s is their median
BLOCK_QUERIES = 1000  # interactive runs whole blocks of this many queries
MAX_BLOCKS = 40
NOMINAL_QPS = 600  # interactive's rate on a 4-core host, to size runs
TRACE_PAIRS = 4  # interactive traced runs: untraced/traced block pairs (ABBA)
COLD_SESSIONS = 2  # batch_sharded cold batches, one per fresh session
# batch_sharded primed batches, at least: one session's primed batches
# differ by up to 30%, so a median needs more than 3
WARM_BATCHES = 5
# driver JVM heap for every session: the engine's default (8g) lets G1 grow
# the heap by a different amount each run, which made peak memory the
# noisiest figure; 2g holds this corpus with room to spare
JVM_HEAP = "2g"
# secondary guards: hit totals bench.py recorded on this corpus
GUARD_REF60_HITS = 669  # fixtures.make_queries(vocab, 60), seed 42
GUARD_BATCH_HITS = 24895  # 2,000 queries, seed DEFAULT_SEED

# the workload-specific names the metrics read as (README.md), with units
NAMED = {
    "ingest": [("build_docs_per_s", "throughput_per_s", "docs/s"),
               ("index_bytes_per_doc", "index_bytes_per_doc", "B/doc")],
    "interactive": [("query_p50_ms", "latency_p50_ms", "ms"),
                    ("query_p99_ms", "latency_p99_ms", "ms"),
                    ("query_qps", "throughput_per_s", "queries/s")],
    "batch_sharded": [("batch_cold_qps", "cold_throughput_per_s", "queries/s"),
                      ("batch_warm_qps", "throughput_per_s", "queries/s")],
}
NAMED_ALL = [("setup_s", "setup_s", "s"), ("peak_rss_mb", "peak_rss_mb", "MB")]


@dataclass
class Ctx:
    seed: int
    seconds: float
    traced: bool
    cores: int
    work: str  # per-run scratch inside the checkout
    cache: str  # per-source-version cache inside the checkout
    trace_dir: str
    rss: trace.RssSampler | trace.SelfPeak
    spark_conf: dict
    notes: list = field(default_factory=list)  # human-readable summary lines


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    guard_ok: bool = True
    check_s: float = 0.0
    spans: list = field(default_factory=list)
    reasons: list = field(default_factory=list)

    def op(self, reason: str | None) -> None:
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            if len(self.reasons) < 5:
                self.reasons.append(reason)


def n_blocks(seconds: float) -> int:
    """interactive blocks for a run of about ``seconds`` at NOMINAL_QPS."""
    return min(MAX_BLOCKS, max(2, round(seconds * NOMINAL_QPS / BLOCK_QUERIES)))


def q99(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[98]


def index_bytes(index_dir: str) -> int:
    """Bytes on disk of an index's postings, dictionary and docs."""
    total = 0
    for sub in ("postings", "dictionary", "docs", os.path.join("shards", "docs")):
        for root, _dirs, files in os.walk(os.path.join(index_dir, sub)):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files if not f.startswith((".", "_"))
            )
    return total


def open_spark(ctx: Ctx, traced_workers: bool = False):
    from tesserae_ng_spark.session import get_spark

    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP  # get_spark's heap override
    conf = dict(ctx.spark_conf)
    if traced_workers:
        conf["spark.python.daemon.module"] = "perfbench.tracedaemon"
    return get_spark("perfbench", master=f"local[{ctx.cores}]",
                     shuffle_partitions=ctx.cores, extra_conf=conf)


def synth_corpus(spark):
    from tesserae_ng_spark.sources.corpus import synthesize_corpus

    corpus = synthesize_corpus(spark, SF_DIR, replicas=REPLICAS,
                               enrich_vocab=True).persist()
    corpus.count()
    return corpus


def prepared_corpus(spark, ctx: Ctx):
    """The synthesized corpus as ``prepare`` stored it (parquet), read and
    persisted: the same rows without re-running the html template UDF."""
    corpus = spark.read.parquet(os.path.join(ctx.cache, "corpus")).persist()
    corpus.count()
    return corpus


def epoch(t_perf: float) -> float:
    """perf_counter reading → epoch seconds (Spark stage timestamps)."""
    return t_perf + (time.time() - time.perf_counter())


def _spark_layers(prefix: str, vals: dict | None) -> dict:
    return {f"{prefix}.{k}": (vals or {}).get(k, 0.0) for k in trace.SPARK_KEYS}


LAYER_FUNCS = {
    "analysis.analyze_query_s": "analysis.analyze_query",
    "reader.lookup_s": "reader.lookup",
    "reader.fetch_s": "reader.fetch",
    "reader.ensure_payloads_s": "reader.ensure_payloads",
    "reader.decode_full_s": "reader.decode_full",
    "wand.bm25_global_topk_s": "wand.bm25_global_topk",
    "wand.bm25_dense_topk_s": "wand.bm25_dense_topk",
    "wand.wand_topk_s": "wand.wand_topk",
    "search.search_s": "search.search",
    "search.phrase_topk_s": "search.phrase_topk",
    "search.proximity_topk_s": "search.proximity_topk",
    "search.phrase_match_arrays_s": "search.phrase_match_arrays",
    "search.proximity_match_arrays_s": "search.proximity_match_arrays",
    "search.affinity_slices_s": "search.affinity_slices",
    "sharded.global_shard_stats_s": "sharded.global_shard_stats",
    "sharded.search_sharded_s": "sharded.search_sharded",
    "sharded.prime_shard_workers_s": "sharded.prime_shard_workers",
}
LAYERS = ("builder", "analysis", "reader", "wand", "search", "sharded")
# spans the benchmark itself puts around a public entry point. They give the
# entry point's call time, but cover no wall time of their own: what no
# engine function or build phase inside them covers is residual
WRAPPERS = ("builder.build_index", "sharded.search_sharded",
            "sharded.prime_shard_workers")


def layer_metrics(spans, windows, wall, overhead, counters=None,
                  readers=None, missed=0, builder=None, spark=None,
                  phases=None, phase1=None) -> dict:
    """Every per-layer metric, 0 where the workload does not reach a layer.

    ``spans`` are (proc, id, parent, name, t0, t1) with proc 0 = driver;
    ``windows`` the timed intervals (perf_counter) the residual is taken
    over; driver spans that start outside them are left out. Function
    times are inclusive and summed over processes; layer self times are
    split into driver (``layer.*``, which with the residual add up to the
    wall) and python workers (``worker.*``, CPU-parallel). ``WRAPPERS``
    count in no layer's self time and cover no wall time."""
    spans = [s for s in spans
             if s[0] != 0 or any(a <= s[4] < b for a, b in windows)]
    st = trace.self_times(spans)
    out = {}
    for key, name in LAYER_FUNCS.items():
        out[key] = st.get(name, [0, 0.0, 0.0])[1]
    out["wand.wand_topk_calls"] = st.get("wand.wand_topk", [0])[0]
    counters = counters or {}
    req = counters.get("reader.term_cache_requests", 0)
    out["reader.term_cache_requests"] = req
    out["reader.term_cache_hit_ratio"] = (
        counters.get("reader.term_cache_hits", 0) / req if req else 0.0
    )
    for k in ("payload_scans", "payload_blocks_loaded", "payload_rows_scanned"):
        out[f"reader.{k}"] = (readers or {}).get(k, 0)
    for side, procs, layers in (("layer", lambda p: p == 0, LAYERS),
                                ("worker", lambda p: p != 0, LAYERS[1:])):
        sub = trace.self_times([s for s in spans if procs(s[0])])
        for lay in layers:
            out[f"{side}.{lay}.self_s"] = sum(
                v[2] for n, v in sub.items()
                if n.split(".", 1)[0] == lay and n not in WRAPPERS
            )
    engine = [(s[4], s[5]) for s in spans if s[0] == 0 and s[3] not in WRAPPERS]
    cov = sum(trace.covered(engine, a, b) for a, b in windows)
    out["trace.wall_s"] = wall
    out["trace.residual_s"] = wall - cov
    out["trace.residual_frac"] = (wall - cov) / wall if wall else 0.0
    out["trace.overhead_frac"] = overhead
    out["trace.spans"] = len(spans)
    out["trace.workers_missed"] = missed
    b = builder or {}
    for k in ("parts_s", "merge_postings_s", "merge_dict_s"):
        out[f"builder.{k}"] = float(b.get(k, 0.0))
    out.update(_spark_layers("spark", spark))
    for ph in ("parts", "merge_postings", "merge_dict"):
        out.update(_spark_layers(f"spark.{ph}", (phases or {}).get(ph)))
    p1 = phase1 or {}
    out["sharded.phase1_jobs"] = p1.get("jobs", 0)
    out["sharded.phase1_memo_hits"] = p1.get("memo_hits", 0)
    out["sharded.phase1_serial_shards"] = p1.get("serial_shards", 0)
    return out


def driver_spans():
    spans, counters = trace.take()
    return [(0,) + s for s in spans], counters


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


def _check_build(res, out_dir: str, model) -> str | None:
    from tesserae_ng_spark.query.search import Searcher

    from perfbench.check import check_index_stats

    rows = Searcher(out_dir).reader.lookup(list(model.postings))
    return check_index_stats(model, res.n_docs, res.n_terms,
                             {t: int(r["df"]) for t, r in rows.items()})


def ingest(ctx: Ctx) -> Result:
    from tesserae_ng_spark.index.builder import build_index

    from perfbench.corpus import load_model

    r = Result()
    t0 = time.perf_counter()
    spark = open_spark(ctx)
    corpus = prepared_corpus(spark, ctx)
    setup = time.perf_counter() - t0
    out = os.path.join(ctx.work, "index")
    with trace.span("builder.build_index") as sp:
        try:
            res, err = build_index(spark, corpus, out, **BUILD_KW), None
        except Exception as e:  # a failed build is a failed operation
            res, err = None, f"build_index raised {type(e).__name__}: {e}"
    ctx.rss.stop()
    wall = sp.t1 - sp.t0
    ph = dict(res.phases) if res else {}
    ctx.notes.append(f"ingest: build {wall:.3f} s; phases {ph}")
    tc = time.perf_counter()
    model = load_model(ctx.cache)
    r.op(err or _check_build(res, out, model))
    r.check_s = time.perf_counter() - tc
    n_docs = res.n_docs if res else model.n_docs
    r.e2e = {
        "setup_s": setup,
        "throughput_per_s": n_docs / wall,
        "cold_throughput_per_s": n_docs / wall,
        "latency_p50_ms": wall * 1e3,
        "latency_p99_ms": wall * 1e3,
        "index_bytes_per_doc": index_bytes(out) / n_docs,
    }
    if ctx.traced:
        # nothing is wrapped inside a build: its spans come from the call
        # and BuildResult.phases, its Spark metrics from the status store
        # afterwards. The traced build runs the untraced code, so the
        # overhead is the tracing work after it, against the build wall.
        tt = time.perf_counter()
        stages, jobs = trace.spark_stages(spark)
        a = sp.t0
        wins, spans = {}, [(0, sp.id, 0, "builder.build_index", sp.t0, sp.t1)]
        for i, k in enumerate(("parts", "merge_postings", "merge_dict")):
            b = a + ph.get(f"{k}_s", 0.0)
            wins[k] = trace.spark_window(stages, jobs, [(epoch(a), epoch(b))], ctx.cores)
            spans.append((0, -1 - i, sp.id, f"builder.{k}", a, b))
            a = b
        r.spans = spans
        r.layers = layer_metrics(
            spans, [(sp.t0, sp.t1)], wall, 0.0, builder=ph,
            spark=trace.spark_window(stages, jobs, [(epoch(sp.t0), epoch(sp.t1))], ctx.cores),
            phases=wins,
        )
        r.layers["trace.overhead_frac"] = (time.perf_counter() - tt) / wall
    corpus.unpersist()
    return r


# ---------------------------------------------------------------------------
# interactive
# ---------------------------------------------------------------------------


def prepare(ctx: Ctx) -> None:
    """Build what every run reuses, once per source version, into the
    checkout's cache: the corpus model and vocabularies, the synthesized
    corpus as parquet (ingest's input), the union index
    interactive serves (ingest's corpus and parameters) and the 8 shard
    indexes batch_sharded serves (one fused ``build_sharded_indexes``
    pass, bench.py's parameters). Runs in its own process, so the measured
    run starts from the same state whether or not it had to prepare."""
    import fcntl
    import json

    from tesserae_ng_spark.index.builder import build_index
    from tesserae_ng_spark.index.sharded_build import build_sharded_indexes

    from perfbench.corpus import load_vocab

    with open(os.path.join(ctx.cache, ".lock"), "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        load_vocab(ctx.cache)
        todo = [n for n in ("corpus", "index", "shards")
                if not os.path.exists(os.path.join(ctx.cache, f"{n}.json"))]
        if not todo:
            return
        spark = open_spark(ctx)
        corpus = synth_corpus(spark)
        for name in todo:
            path = os.path.join(ctx.cache, name)
            shutil.rmtree(path, ignore_errors=True)
            t = time.perf_counter()
            if name == "corpus":
                corpus.write.parquet(path)
                info = {}
            elif name == "index":
                info = {"phases": build_index(spark, corpus, path, **BUILD_KW).phases}
            else:
                built = build_sharded_indexes(spark, corpus, shard_dirs(path), **SHARD_KW)
                info = {"phases": _sharded_phases(built),
                        "n_docs": sum(b.n_docs for b in built)}
            info["wall_s"] = time.perf_counter() - t
            with open(os.path.join(ctx.cache, f"{name}.json"), "w") as f:
                json.dump(info, f)
        corpus.unpersist()
        os.sync()  # the measured run should not share the disk with writeback


def prepared(cache: str) -> bool:
    return all(os.path.exists(os.path.join(cache, *p)) for p in (
        ("vocab.pkl",), ("corpus_model.pkl",), ("corpus.json",),
        ("index.json",), ("shards.json",)))


def cached_shards(ctx: Ctx) -> tuple[list[str], dict]:
    import json

    with open(os.path.join(ctx.cache, "shards.json")) as f:
        return shard_dirs(os.path.join(ctx.cache, "shards")), json.load(f)


def shard_dirs(path: str) -> list[str]:
    return [os.path.join(path, f"shard{i}") for i in range(N_SHARDS)]


class Hits:
    """Results of many searches in flat arrays: the benchmark keeps no
    per-hit Python objects alive, so it adds nothing to the garbage
    collector's work inside the engine's latency."""

    def __init__(self):
        from array import array

        self.docs, self.scores, self.ends = array("q"), array("d"), array("q")
        self.errors: dict[int, str] = {}

    def add(self, hits) -> None:
        if isinstance(hits, Exception):
            self.errors[len(self.ends)] = f"raised {hits!r}"
        else:
            for h in hits:
                self.docs.append(h.doc_id)
                self.scores.append(h.score)
        self.ends.append(len(self.docs))

    def __len__(self) -> int:
        return len(self.ends)

    def get(self, i: int):
        if i in self.errors:
            return self.errors[i]
        a = self.ends[i - 1] if i else 0
        return list(zip(self.docs[a:self.ends[i]], self.scores[a:self.ends[i]]))


def run_pass(searcher, qs, out: Hits, lats=None) -> tuple[float, float]:
    """Closed loop: each query starts when the previous one returned.
    → (start, end) on the perf_counter clock."""
    t0 = time.perf_counter()
    for q in qs:
        t = time.perf_counter()
        try:
            hits = searcher.search(q["query_text"], k=q["k"], mode=q["mode"])
        except Exception as e:
            hits = e
        if lats is not None:
            lats.append(time.perf_counter() - t)
        out.add(hits)
    return t0, time.perf_counter()


def interactive(ctx: Ctx) -> Result:
    from array import array

    from tesserae_ng_spark.fixtures import make_queries
    from tesserae_ng_spark.query.search import Searcher

    from perfbench.check import Reference, check_hits
    from perfbench.corpus import load_model, load_vocab, zipf_queries

    r = Result()
    idx = os.path.join(ctx.cache, "index")
    vocab = load_vocab(ctx.cache)
    # a stream of blocks, each stratified on its own: every block has the
    # same composition and no query repeats
    used = max(OPENS + n_blocks(ctx.seconds) - 1, 1 + 2 * TRACE_PAIRS)
    blocks = [zipf_queries(vocab["raw"], BLOCK_QUERIES, ctx.seed * MAX_BLOCKS + b)
              for b in range(used)]
    # set-up runs OPENS times: a fresh Searcher each time, and in untraced
    # runs a cold block on it (its caches start empty), so both setup_s and
    # the cold read are medians
    out = Hits()
    opens, colds = [], []
    for i in range(OPENS):
        t = time.perf_counter()
        searcher = Searcher(idx, warm_mb=WARM_MB)
        opens.append(time.perf_counter() - t)
        if not ctx.traced:
            colds.append(run_pass(searcher, blocks[i], out))
    warm = searcher.warm_info or {}
    ctx.notes.append(
        f"interactive: opens {', '.join(f'{o:.3f}' for o in opens)} s; "
        f"warmed {warm.get('terms')} terms ({warm.get('est_mb')} MB est)"
    )
    if not ctx.traced:
        # then a fixed number of blocks for the time asked: a faster engine
        # does the same work sooner instead of more of it (the per-term
        # caches keep warming, so more queries would also read faster)
        lats = array("d")
        passes = [run_pass(searcher, b, out, lats)
                  for b in blocks[OPENS:OPENS + n_blocks(ctx.seconds) - 1]]
        ctx.rss.stop()
        wall = passes[-1][1] - passes[0][0]
        # medians over blocks (each block's p99 has 10 samples beyond it)
        steady = [sorted(lats[i * BLOCK_QUERIES:(i + 1) * BLOCK_QUERIES])
                  for i in range(len(passes))]
        r.e2e = {
            "setup_s": statistics.median(opens),
            "throughput_per_s": statistics.median(BLOCK_QUERIES / (b - a) for a, b in passes),
            "cold_throughput_per_s": statistics.median(BLOCK_QUERIES / (b - a) for a, b in colds),
            "latency_p50_ms": statistics.median(x for blk in steady for x in blk) * 1e3,
            "latency_p99_ms": statistics.median(q99(blk) for blk in steady) * 1e3,
            "index_bytes_per_doc": index_bytes(idx) / searcher.reader.n_docs,
        }
        ctx.notes.append(
            f"interactive: cold blocks " + ", ".join(f"{b - a:.3f}" for a, b in colds)
            + f" s; {len(passes)} blocks of {BLOCK_QUERIES} queries in {wall:.3f} s ("
            + ", ".join(f"{b - a:.3f}" for a, b in passes) + " s), "
            f"{BLOCK_QUERIES // 100} per block beyond each block p99"
        )
    else:
        # block 1 (untraced) warms; then TRACE_PAIRS pairs of an untraced
        # and a traced block (same composition by construction) in ABBA
        # order (U T, T U, U T, ...), so the caches' steady warming favours
        # neither side; the traced blocks give the layers
        run_pass(searcher, blocks[0], out)
        keys = ("payload_scans", "payload_blocks_loaded", "payload_rows_scanned")
        walls = {False: 0.0, True: 0.0}
        pairs: list[dict] = []
        wins, spans, counters = [], [], {}
        readers = dict.fromkeys(keys, 0)
        for b in range(1, 1 + 2 * TRACE_PAIRS):
            pair, second = divmod(b - 1, 2)
            traced = second != pair % 2
            if not second:
                pairs.append({})
            before = {k: getattr(searcher.reader, k) for k in keys}
            trace.take()
            if traced:
                trace.install()
            win = run_pass(searcher, blocks[b], out)
            walls[traced] += win[1] - win[0]
            pairs[-1][traced] = win[1] - win[0]
            if traced:
                trace.uninstall()
                sp, ct = driver_spans()
                spans += sp
                for k, v in ct.items():
                    counters[k] = counters.get(k, 0) + v
                for k in keys:
                    readers[k] += getattr(searcher.reader, k) - before[k]
                wins.append(win)
        ctx.rss.stop()
        overhead = walls[True] / walls[False] - 1.0
        ctx.notes.append(
            f"tracing overhead: {TRACE_PAIRS} blocks {walls[True]:.3f} s traced vs "
            f"{walls[False]:.3f} s untraced, ABBA order; traced/untraced per pair "
            + ", ".join(f"{p[True] / p[False]:.3f}" for p in pairs))
        r.spans = spans
        r.layers = layer_metrics(spans, wins, sum(b - a for a, b in wins), overhead,
                                 counters=counters, readers=readers)
    tc = time.perf_counter()
    ref = Reference(load_model(ctx.cache))
    for i in range(len(out)):
        q = blocks[i // BLOCK_QUERIES][i % BLOCK_QUERIES]
        got = out.get(i)
        r.op(_reason(q, got if isinstance(got, str)
                     else check_hits(ref.expected(q), got, q["k"])))
    # secondary guard: bench.py's 60-query reference set
    ref60 = make_queries(vocab["bench"], n=60)
    out60 = Hits()
    run_pass(searcher, ref60, out60)
    hits = len(out60.docs)
    for i, q in enumerate(ref60):
        got = out60.get(i)
        r.op(_reason(q, got if isinstance(got, str)
                     else check_hits(ref.expected(q), got, q["k"])))
    r.guard_ok = hits == GUARD_REF60_HITS
    ctx.notes.append(f"guard: 60-query reference set hits {hits} (expect {GUARD_REF60_HITS})")
    r.check_s = time.perf_counter() - tc
    return r


def _reason(q: dict, why: str | None) -> str | None:
    return None if why is None else f"{q['mode']} {q['query_text']!r} k={q['k']}: {why}"


# ---------------------------------------------------------------------------
# batch_sharded
# ---------------------------------------------------------------------------


def _rows_by_query(rows) -> dict[int, list[tuple[int, float]]]:
    per: dict[int, list] = {}
    for qid, rank, doc, score in rows:
        per.setdefault(qid, []).append((rank, doc, score))
    return {q: [(d, s) for _r, d, s in sorted(v)] for q, v in per.items()}


def batch_sharded(ctx: Ctx) -> Result:
    from tesserae_ng_spark.fixtures import make_queries
    from tesserae_ng_spark.query import search, sharded
    from tesserae_ng_spark.query.sharded import prime_shard_workers, search_sharded

    from perfbench.check import Reference, check_hits
    from perfbench.corpus import load_model, load_vocab

    r = Result()
    vocab = load_vocab(ctx.cache)
    queries = make_queries(vocab["bench"], n=BATCH_QUERIES, seed=ctx.seed % (1 << 32))
    dirs, built = cached_shards(ctx)
    ctx.notes.append(f"batch_sharded: shards from one fused build of {built['wall_s']:.3f} s, "
                     f"phases {built['phases']}")
    spark = None
    results: list[tuple[str, list]] = []

    def batch(label: str):
        with trace.span("sharded.search_sharded") as sp:
            rows = search_sharded(spark, dirs, queries, k=10).collect()
        results.append((label, rows))
        return sp

    def fresh(traced: bool = False) -> float:
        """A new session (fresh python workers) with the driver-side caches
        emptied too, as in a newly started query service → open time."""
        nonlocal spark
        if spark is not None:
            spark.stop()
        for cache in (getattr(sharded, "_STATS_MEMO", None),
                      getattr(search, "_SEARCHER_CACHE", None)):
            if cache is not None:
                cache.clear()
        t = time.perf_counter()
        spark = open_spark(ctx, traced_workers=traced)
        return time.perf_counter() - t

    def prime():
        with trace.span("sharded.prime_shard_workers") as pr:
            prime_shard_workers(spark, dirs, queries=queries)
        return pr

    def warm_batches(timed: float):
        warm = []
        while len(warm) < WARM_BATCHES or timed + sum(w.t1 - w.t0 for w in warm) < ctx.seconds:
            warm.append(batch(f"warm{len(warm) + 1}"))
        return warm

    if not ctx.traced:
        # COLD_SESSIONS cold batches, each in a fresh session; the first
        # also pays the JVM's own warm-up, so the median is the typical one
        t_open = fresh()
        colds = [batch("cold")]
        for _ in range(COLD_SESSIONS - 1):
            fresh()
            colds.append(batch("cold"))
        pr = prime()
        cold_s = [c.t1 - c.t0 for c in colds]
        warm = [w.t1 - w.t0 for w in warm_batches(sum(cold_s))]
        ctx.rss.stop()
        r.e2e = {
            "setup_s": t_open + (pr.t1 - pr.t0),
            "throughput_per_s": BATCH_QUERIES / statistics.median(warm),
            "cold_throughput_per_s": BATCH_QUERIES / statistics.median(cold_s),
            "latency_p50_ms": statistics.median(warm) * 1e3,
            "latency_p99_ms": q99(cold_s + warm) * 1e3,
            "index_bytes_per_doc": sum(index_bytes(d) for d in dirs) / built["n_docs"],
        }
        ctx.notes.append(
            f"batch_sharded: session {t_open:.3f} s, prime {pr.t1 - pr.t0:.3f} s, cold "
            + ", ".join(f"{c:.3f}" for c in cold_s) + " s, warm "
            + ", ".join(f"{w:.3f}" for w in warm) + " s"
        )
    else:
        # a traced session (cold, prime, warm) gives the layers; untraced
        # sessions of the same sequence before and after it give
        # like-for-like warm batches for the overhead (a cold batch warms
        # the workers its warm batches then run on)
        def untraced_session():
            fresh()
            c = batch("cold")
            prime()
            return warm_batches(c.t1 - c.t0)

        uwarm = untraced_session()
        fresh(traced=True)
        trace.take()
        trace.install()
        p1 = dict(sharded.PHASE1_COUNTERS)
        cold = batch("cold")
        cold_d = trace.collect_worker_spans(spark, ctx.trace_dir)
        pr = prime()
        prime_d = trace.collect_worker_spans(spark, ctx.trace_dir)
        twarm = warm_batches(cold.t1 - cold.t0)
        warm_d = trace.collect_worker_spans(spark, ctx.trace_dir)
        trace.uninstall()
        phase1 = {k: sharded.PHASE1_COUNTERS[k] - p1.get(k, 0) for k in p1}
        dspans, counters = driver_spans()
        stages, jobs = trace.spark_stages(spark)
        uwarm += untraced_session()
        ctx.rss.stop()
        tw = statistics.median(w.t1 - w.t0 for w in twarm)
        uw = statistics.median(w.t1 - w.t0 for w in uwarm)
        ctx.notes.append(
            f"tracing overhead: median warm batch {tw:.3f} s traced vs {uw:.3f} s untraced "
            "(traced " + ", ".join(f"{w.t1 - w.t0:.3f}" for w in twarm) + " s; untraced "
            + ", ".join(f"{w.t1 - w.t0:.3f}" for w in uwarm) + " s)")
        for d in (cold_d, warm_d):
            for k, v in d["counters"].items():
                counters[k] = counters.get(k, 0) + v
        readers = {
            k: sum(v[k] for v in cold_d["readers"].values())
            + sum(v[k] for v in warm_d["readers"].values())
            - sum(v[k] for v in prime_d["readers"].values())
            for k in ("payload_scans", "payload_blocks_loaded", "payload_rows_scanned")
        }
        wins = [(s.t0, s.t1) for s in [cold] + twarm]
        spans = dspans + cold_d["spans"] + warm_d["spans"]
        r.spans = spans
        r.layers = layer_metrics(
            spans, wins, sum(b - a for a, b in wins), tw / uw - 1.0,
            counters=counters, readers=readers,
            missed=cold_d["missed"] + prime_d["missed"] + warm_d["missed"],
            builder=built["phases"],
            spark=trace.spark_window(stages, jobs, [(epoch(a), epoch(b)) for a, b in wins],
                                     ctx.cores),
            phase1=phase1,
        )
        r.layers["sharded.prime_shard_workers_s"] = pr.t1 - pr.t0
    spark.stop()
    tc = time.perf_counter()
    model = load_model(ctx.cache)
    ref = Reference(model)
    expected = [ref.expected(q) for q in queries]
    guard = []
    for _label, rows in results:
        per = _rows_by_query(rows)
        for q, want in zip(queries, expected):
            r.op(_reason(q, check_hits(want, per.get(q["query_id"], []), q["k"])))
        guard.append(len(rows))
    if ctx.seed == DEFAULT_SEED:
        r.guard_ok = all(h == GUARD_BATCH_HITS for h in guard)
        ctx.notes.append(f"guard: seed {DEFAULT_SEED} batch hits {sorted(set(guard))} "
                         f"(expect {GUARD_BATCH_HITS})")
    r.check_s = time.perf_counter() - tc
    return r


def _sharded_phases(built) -> dict:
    """Fused sharded build phases: stage A (shared) and the per-shard merge
    phases summed over shards (they run concurrently)."""
    if not built:
        return {}
    return {
        "parts_s": built[0].phases.get("parts_s", 0.0),
        "merge_postings_s": sum(b.phases.get("merge_postings_s", 0.0) for b in built),
        "merge_dict_s": sum(b.phases.get("merge_dict_s", 0.0) for b in built),
    }


RUNNERS = {"ingest": ingest, "interactive": interactive, "batch_sharded": batch_sharded}
