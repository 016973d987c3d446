"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,interactive,batch_sharded}
                             [--seed N] [--seconds S] [--trace 0|1]

Run from the repository root. One process, Spark at local[<usable cores>].
Everything the run writes stays under ``.perfbench_work/`` in the checkout:
per-run scratch (indexes, Spark scratch, temp files) is removed at exit;
``cache/<source hash>/`` keeps the corpus model and interactive's index.

Human-readable lines come first; the last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def source_hash() -> str:
    """Hash of the engine and benchmark sources and the corpus data: the
    cache key for anything derived from them."""
    h = hashlib.sha256()
    for top in ("tesserae_ng_spark", "perfbench"):
        for root, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for f in sorted(files):
                if f.endswith((".py", ".parquet")):
                    p = os.path.join(root, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def declared(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "interactive", "batch_sharded"])
    ap.add_argument("--seed", type=int, default=777)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--prepare", action="store_true",
                    help="only build the cached corpus model and indexes")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tesserae_ng_spark", "__init__.py")):
        print(f"perfbench: no tesserae_ng_spark package in {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import trace, workloads
    from perfbench.procs import shutdown_spark

    cache = os.path.join(WORK, "cache", source_hash())
    if not args.prepare and not workloads.prepared(cache):
        # first run in this checkout: build the caches in a process of
        # their own, so this run measures from a clean start
        subprocess.run([sys.executable, os.path.abspath(__file__), "--prepare",
                        "--workload", args.workload], stdout=sys.stderr, check=True)
    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}-{time.time_ns()}"
    work = os.path.join(WORK, "runs", run_id)
    tmp = os.path.join(work, "tmp")
    trace_dir = os.path.join(work, "trace")
    for d in (cache, tmp, trace_dir):
        os.makedirs(d, exist_ok=True)
    # keep every file the run writes inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark_local")
    os.environ["PERFBENCH_TRACE_DIR"] = trace_dir
    # every JVM, the spark-submit launcher's too: temp files in the
    # checkout, no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    cores = len(os.sched_getaffinity(0))
    ctx = workloads.Ctx(
        seed=args.seed, seconds=args.seconds, traced=bool(args.trace),
        cores=cores, work=work, cache=cache, trace_dir=trace_dir,
        # interactive starts no process: its peak is this process's own,
        # read after the timed loop instead of sampled during it
        rss=(trace.SelfPeak() if args.workload == "interactive" and not args.prepare
             else trace.RssSampler()).start(),
        spark_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )
    try:
        if args.prepare:
            workloads.prepare(ctx)
            return 0
        res = workloads.RUNNERS[args.workload](ctx)
    finally:
        ctx.rss.stop()
        shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        trace.write_spans(os.path.join(WORK, "traces", f"{run_id}.jsonl"),
                          run_id, res.spans)

    correct = res.failed == 0 and res.guard_ok
    print(f"perfbench {args.workload}: seed {args.seed}, local[{cores}], "
          f"{'traced' if args.trace else 'untraced'}, {args.seconds:g} s")
    for line in ctx.notes:
        print("  " + line)
    print(f"  check: {res.attempted} ops, {res.failed} failed "
          f"(ops_failed_frac {res.failed / max(1, res.attempted):.6f}), "
          f"guard {'ok' if res.guard_ok else 'FAILED'}, "
          f"check time {res.check_s:.3f} s (in no metric)")
    if not args.trace:
        print(f"  peak RSS at: {ctx.rss.breakdown()}")
    for why in res.reasons:
        print("  FAILED " + why)
    if args.trace:
        metrics = res.layers
        names = [m["name"] for m in declared("per_layer")]
        units = {m["name"]: m["unit"] for m in declared("per_layer")}
    else:
        metrics = dict(res.e2e, peak_rss_mb=ctx.rss.peak_mb)
        names = [m["name"] for m in declared("end_to_end")]
        units = {m["name"]: m["unit"] for m in declared("end_to_end")}
    if not set(names) <= set(metrics):
        print(f"perfbench: metrics {sorted(set(names) - set(metrics))} declared in "
              "BENCHMARK.json were not measured", file=sys.stderr)
        return 3
    for n in names:
        print(f"  {n} = {metrics[n]:.6g} {units[n]}")
    for n in sorted(set(metrics) - set(names)):
        print(f"  {n} = {metrics[n]:.6g} (measured, not declared in BENCHMARK.json)")
    if not args.trace:
        print(f"  {args.workload} reads as:")
        for alias, n, unit in workloads.NAMED[args.workload] + workloads.NAMED_ALL:
            print(f"    {alias} = {metrics[n]:.6g} {unit}")
        print(f"    ops_failed_frac = {res.failed / max(1, res.attempted):.6g}")
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
