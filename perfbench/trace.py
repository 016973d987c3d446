"""Spans, engine-call wrappers, Spark stage metrics and peak RSS.

A span is (id, parent id, name, start, end) on the monotonic clock, tagged
with the run id. Spans are kept in memory and written out when the run ends.

``install()`` wraps the engine's public query-path functions and methods
with span recorders, from the outside: the engine's code is not changed.
In the driver that covers in-process work (the ``interactive`` Searcher).
Spark python workers are covered by ``perfbench.tracedaemon``, which
installs the same wrappers in the worker daemon before it forks; each
worker keeps its spans until ``collect_worker_spans`` fetches them.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import types

SPANS: list[tuple] = []  # (id, parent, name, t0, t1) in this process
COUNTERS: dict[str, int] = {}
_ids = itertools.count(1)
_tls = threading.local()
_saved: list[tuple] = []  # (owner, attr, original) for uninstall
_pid_file_dir = os.environ.get("PERFBENCH_TRACE_DIR")
_registered_pid = None
COLLECT_ATTEMPTS = 3  # barrier jobs collect_worker_spans may run
KEEP_TRACES = 5  # trace files kept in the traces directory
SAMPLE_PERIOD_S = 0.2  # RssSampler's sampling period


def _stack() -> list:
    st = getattr(_tls, "stack", None)
    if st is None:
        st = _tls.stack = []
    return st


def _register_worker() -> None:
    """Announce this process once, so the driver knows which workers
    hold spans and can tell when a collection missed one."""
    global _registered_pid
    _registered_pid = os.getpid()
    if _pid_file_dir:
        os.makedirs(os.path.join(_pid_file_dir, "pids"), exist_ok=True)
        open(os.path.join(_pid_file_dir, "pids", str(_registered_pid)), "w").close()


class span:
    """Context manager recording one span (benchmark-side phases)."""

    def __init__(self, name: str):
        self.name = name

    def __enter__(self):
        st = _stack()
        self.parent = st[-1] if st else 0
        self.id = next(_ids)
        st.append(self.id)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.t1 = time.perf_counter()
        _stack().pop()
        SPANS.append((self.id, self.parent, self.name, self.t0, self.t1))
        return False


class _Traced:
    """Span-recording stand-in for an engine function. A module-level class,
    so a closure that captured it pickles by reference and records into
    the receiving process's spans."""

    __slots__ = ("name", "fn", "before")

    def __init__(self, name: str, fn, before=None):
        self.name, self.fn, self.before = name, fn, before

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __call__(self, *a, **kw):
        if _registered_pid != os.getpid():
            _register_worker()
        st = _stack()
        parent = st[-1] if st else 0
        sid = next(_ids)
        st.append(sid)
        if self.before is not None:
            self.before(*a, **kw)
        t0 = time.perf_counter()
        try:
            return self.fn(*a, **kw)
        finally:
            t1 = time.perf_counter()
            st.pop()
            SPANS.append((sid, parent, self.name, t0, t1))


def _count(key: str, n: int) -> None:
    COUNTERS[key] = COUNTERS.get(key, 0) + n


def _fetch_cache_probe(reader, terms, *a, **kw) -> None:
    """term-cache hit accounting for IndexReader.fetch: a requested term
    already held by the reader's LRU is a hit."""
    uniq = set(terms)
    cache = getattr(reader, "_term_cache", None)
    _count("reader.term_cache_requests", len(uniq))
    if cache is not None:
        _count("reader.term_cache_hits", sum(t in cache for t in uniq))


def _targets():
    """(owner object, attribute, span name, pre-call hook) for every wrapped
    engine function. Functions imported by name into another module are
    wrapped where they are looked up."""
    from tesserae_ng_spark.functions import analysis
    from tesserae_ng_spark.query import reader, search, sharded

    out = []
    for mod in (analysis, search, sharded):
        if hasattr(mod, "analyze_query"):
            out.append((mod, "analyze_query", "analysis.analyze_query", None))
    out += [
        (reader.IndexReader, "lookup", "reader.lookup", None),
        (reader.IndexReader, "fetch", "reader.fetch", _fetch_cache_probe),
        (reader.IndexReader, "ensure_payloads", "reader.ensure_payloads", None),
        (reader.IndexReader, "warm_top_terms", "reader.warm_top_terms", None),
        (reader.TermPostings, "decode_full", "reader.decode_full", None),
        (search.Searcher, "search", "search.search", None),
    ]
    for attr in ("bm25_global_topk", "bm25_dense_topk", "wand_topk"):
        out.append((search, attr, f"wand.{attr}", None))
    for attr in ("phrase_topk", "proximity_topk", "affinity_slices"):
        out.append((search, attr, f"search.{attr}", None))
    for attr in ("phrase_match_arrays", "proximity_match_arrays"):
        for mod in (search, sharded):
            out.append((mod, attr, f"search.{attr}", None))
    out.append((sharded, "global_shard_stats", "sharded.global_shard_stats", None))
    return [t for t in out if hasattr(t[0], t[1])]


def install() -> None:
    """Wrap the engine's query-path functions (idempotent)."""
    if _saved:
        return
    for owner, attr, name, before in _targets():
        fn = getattr(owner, attr)
        _saved.append((owner, attr, fn))
        setattr(owner, attr, _Traced(name, fn, before))


def uninstall() -> None:
    while _saved:
        owner, attr, fn = _saved.pop()
        setattr(owner, attr, fn)


def take() -> tuple[list, dict]:
    """Drain this process's spans and counters."""
    spans, counters = SPANS[:], dict(COUNTERS)
    SPANS.clear()
    COUNTERS.clear()
    return spans, counters


# ---------------------------------------------------------------------------
# worker-side collection
# ---------------------------------------------------------------------------


def _reader_totals() -> dict:
    """Sum the reader's own I/O counters over every searcher this worker
    process has opened (the engine's per-process searcher cache)."""
    from tesserae_ng_spark.query import search

    out = {"payload_scans": 0, "payload_blocks_loaded": 0, "payload_rows_scanned": 0}
    for s in getattr(search, "_SEARCHER_CACHE", {}).values():
        for k in out:
            out[k] += int(getattr(s.reader, k, 0))
    return out


def _dump_task(trace_dir: str, token: str, n: int):
    def run(_):
        # hold every task until all n run at once, so each lands on a
        # distinct python worker
        bdir = os.path.join(trace_dir, f"barrier-{token}")
        os.makedirs(bdir, exist_ok=True)
        open(os.path.join(bdir, f"{os.getpid()}-{time.monotonic_ns()}"), "w").close()
        deadline = time.monotonic() + 5.0
        while len(os.listdir(bdir)) < n and time.monotonic() < deadline:
            time.sleep(0.005)
        spans, counters = take()
        yield os.getpid(), spans, counters, _reader_totals()

    return run


def collect_worker_spans(spark, trace_dir: str) -> dict:
    """Fetch and drain the spans every python worker holds.

    → {"spans": [(pid, span)...], "counters": {...}, "readers": {pid: totals},
    "missed": n}. ``missed`` counts workers that announced spans but were
    not reached (reported, never silently dropped)."""
    sc = spark.sparkContext
    n = sc.defaultParallelism
    seen: dict[int, tuple] = {}
    spans, counters = [], {}
    for a in range(COLLECT_ATTEMPTS):
        token = f"{time.monotonic_ns()}-{a}"
        for pid, sp, ct, rd in (
            sc.parallelize(range(n), n).mapPartitions(_dump_task(trace_dir, token, n)).collect()
        ):
            spans.extend((pid,) + s for s in sp)
            for k, v in ct.items():
                counters[k] = counters.get(k, 0) + v
            seen[pid] = rd
        pid_dir = os.path.join(trace_dir, "pids")
        announced = {int(p) for p in os.listdir(pid_dir)} if os.path.isdir(pid_dir) else set()
        announced.discard(os.getpid())  # the driver's own spans stay local
        if announced <= set(seen):
            break
    missed = len(announced - set(seen))
    return {"spans": spans, "counters": counters, "readers": seen, "missed": missed}


# ---------------------------------------------------------------------------
# span analysis
# ---------------------------------------------------------------------------


def self_times(spans) -> dict[str, list[float]]:
    """name → [calls, inclusive s, self s]. ``spans`` are (proc, id,
    parent, name, t0, t1); a span's self time is its duration minus its
    children's in the same process."""
    child: dict[tuple, float] = {}
    for proc, _sid, parent, _name, t0, t1 in spans:
        if parent:
            child[(proc, parent)] = child.get((proc, parent), 0.0) + (t1 - t0)
    out: dict[str, list[float]] = {}
    for proc, sid, _parent, name, t0, t1 in spans:
        ent = out.setdefault(name, [0, 0.0, 0.0])
        ent[0] += 1
        ent[1] += t1 - t0
        ent[2] += (t1 - t0) - child.get((proc, sid), 0.0)
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def write_spans(path: str, run_id: str, spans) -> None:
    """Write one run's spans as JSON lines beside the ``KEEP_TRACES - 1``
    most recent earlier trace files (older ones are removed)."""
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    old = sorted((os.path.join(d, f) for f in os.listdir(d)), key=os.path.getmtime)
    for f in old[:max(0, len(old) - KEEP_TRACES + 1)]:
        os.remove(f)
    with open(path, "w") as f:
        for proc, sid, parent, name, t0, t1 in spans:
            f.write(json.dumps({"run": run_id, "proc": proc, "id": sid,
                                "parent": parent, "name": name,
                                "start": t0, "end": t1}) + "\n")


# ---------------------------------------------------------------------------
# Spark stage metrics from the driver's status store
# ---------------------------------------------------------------------------

SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "output_bytes",
    "spill_bytes", "slot_idle_frac", "task_launch_wait_s",
)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_stages(spark) -> tuple[list[dict], list[float]]:
    """(stages, job submission times) from the live status store, after the
    listener bus has drained. Times are epoch seconds."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    gw = sc._gateway
    seq = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    stages = []
    for i in range(seq.length()):
        s = seq.apply(i)
        sub = _opt_ms(s.submissionTime())
        if sub is None:
            continue  # skipped stage: its shuffle output was reused
        first = _opt_ms(s.firstTaskLaunchedTime())
        stages.append({
            "submit": sub,
            "launch_wait": (first - sub) if first is not None else 0.0,
            "tasks": s.numTasks(),
            "run": s.executorRunTime() / 1e3,
            "cpu": s.executorCpuTime() / 1e9,
            "gc": s.jvmGcTime() / 1e3,
            "shuffle_write": s.shuffleWriteBytes(),
            "shuffle_read": s.shuffleReadBytes(),
            "output": s.outputBytes(),
            "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        })
    jobs = store.jobsList(None)
    job_times = [
        t for i in range(jobs.length())
        if (t := _opt_ms(jobs.apply(i).submissionTime())) is not None
    ]
    return stages, job_times


def spark_window(stages, job_times, windows: list[tuple[float, float]],
                 cores: int) -> dict[str, float]:
    """Stage metrics of the stages submitted inside ``windows`` (epoch s)."""
    def inside(t):
        return any(a <= t <= b for a, b in windows)

    sel = [s for s in stages if inside(s["submit"])]
    wall = sum(b - a for a, b in windows)
    run = sum(s["run"] for s in sel)
    return {
        "jobs": sum(1 for t in job_times if inside(t)),
        "stages": len(sel),
        "tasks": sum(s["tasks"] for s in sel),
        "executor_run_s": run,
        "executor_cpu_s": sum(s["cpu"] for s in sel),
        "jvm_gc_s": sum(s["gc"] for s in sel),
        "shuffle_write_bytes": sum(s["shuffle_write"] for s in sel),
        "shuffle_read_bytes": sum(s["shuffle_read"] for s in sel),
        "output_bytes": sum(s["output"] for s in sel),
        "spill_bytes": sum(s["spill"] for s in sel),
        "slot_idle_frac": (1.0 - run / (wall * cores)) if wall > 0 else 0.0,
        "task_launch_wait_s": sum(s["launch_wait"] for s in sel),
    }


# ---------------------------------------------------------------------------
# peak resident memory of this process and everything it started
# ---------------------------------------------------------------------------


class RssSampler:
    """Samples the summed resident memory (proportional set size) of this
    process and all its descendants — the JVM and the python workers —
    every ``SAMPLE_PERIOD_S`` seconds."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._t = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def _tree_rss(self) -> list[tuple[str, int]]:
        from perfbench.procs import descendants

        parts = []
        for p in [os.getpid()] + [pid for pid, _start in descendants()]:
            try:
                parts.append((self._comm(p), self._pss(p)))
            except (OSError, ValueError):
                pass  # the process ended between listing and reading
        return parts

    @staticmethod
    def _comm(pid: int) -> str:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()

    def _pss(self, pid: int) -> int:
        """Proportional resident bytes: pages shared between processes (the
        forked python workers, a JVM child between fork and exec) count
        once in the sum instead of once per sharer."""
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                for line in f:
                    if line.startswith(b"Pss:"):
                        return int(line.split()[1]) * 1024
        except FileNotFoundError:
            pass
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * self._page

    def sample(self) -> None:
        parts = self._tree_rss()
        total = sum(r for _, r in parts)
        if total > self.peak:
            self.peak, self.at_peak = total, parts

    def breakdown(self) -> str:
        """Process names and RSS (MB) at the peak."""
        by: dict[str, list[int]] = {}
        for name, rss in getattr(self, "at_peak", []):
            by.setdefault(name, []).append(rss)
        return ", ".join(f"{n} ×{len(v)} {sum(v) / (1 << 20):.0f} MB" for n, v in sorted(by.items()))

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_PERIOD_S):
            self.sample()

    def stop(self) -> None:
        """End sampling (idempotent); ``peak_mb`` is final afterwards."""
        if not self._stop.is_set():
            self._stop.set()
            self._t.join()
            self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


class SelfPeak:
    """Peak resident memory of this process alone (``VmHWM``), read once
    when the measured work ends. For a workload that starts no other
    process: it runs no sampler thread beside the timed loop."""

    def __init__(self):
        self.peak = None

    def start(self) -> "SelfPeak":
        return self

    def stop(self) -> None:
        """Read the high-water mark (idempotent); ``peak_mb`` is final
        afterwards."""
        if self.peak is None:
            with open("/proc/self/status") as f:
                kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
            self.peak = kb * 1024

    def breakdown(self) -> str:
        return f"python (this process only) {self.peak_mb:.0f} MB, VmHWM"

    @property
    def peak_mb(self) -> float:
        self.stop()
        return self.peak / (1 << 20)
