"""Benchmark entry point.

    python3 ftbench/run.py --workload build|query --seed N \\
        --seconds S --trace 0|1

Run from the repository root. Everything the run writes goes under
``.ftbench/`` there. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The
exit code is 0 only when a result was printed; without the engine next
to this directory the run exits 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "index_bytes_per_text_byte": "ratio",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    **{f"index.build.{p}_s": "s" for p in ("id_stats", "docs", "postings", "lexicon")},
    **{f"index.build.{t}_bytes": "bytes" for t in ("docs", "docs_terms", "postings", "lexicon")},
    "index.build.blocks": "count",
    "index.build.postings": "count",
    "text.udfs.tokenize_s": "s",
    "text.udfs.extract_s": "s",
    **{
        f"spark.{k}.{m}": u
        for k in ("build", "batch")
        for m, u in (
            ("executor_run_s", "s"),
            ("cpu_s", "s"),
            ("shuffle_write_bytes", "bytes"),
            ("input_bytes", "bytes"),
            ("stages", "count"),
        )
    },
    "query.exec.plan_s": "s",
    "query.exec.execute_s": "s",
    "query.exec.live_terms": "count",
    "query.exec.bm25_qps": "1/s",
    "query.exec.tfidf_qps": "1/s",
    "index.varbyte.decode_mb_per_s": "MB/s",
    "index.varbyte.encode_mb_per_s": "MB/s",
    "query.serve.open_s": "s",
    "query.serve.cold_p50_ms": "ms",
    "query.serve.selective_p50_ms": "ms",
    "query.serve.broad_p50_ms": "ms",
    "query.serve.boolean_p50_ms": "ms",
    "query.serve.buckets_per_query": "count",
    "query.serve.pruned_share": "ratio",
    "query.serve.survivors_per_query": "count",
    "loadgen.busy_share": "ratio",
    "loadgen.late_p99_ms": "ms",
    "trace.overhead_share": "ratio",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # the seed picks a page-row range; rows past ~4e9 carry timestamps
    # beyond year 9999, so it wraps at 10^6 (3e9 rows)
    seed = args.seed % 1_000_000

    sys.path.insert(0, HERE)
    import harness

    work = os.path.join(ROOT, ".ftbench", f"{args.workload}-{seed}-{os.getpid()}")
    harness.configure_env(work)
    sys.path.insert(0, ROOT)
    try:
        import searchengine_spark.session  # noqa: F401
    except ImportError as e:
        print(f"ftbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    import workloads

    run = harness.Run(work, seed, args.seconds, bool(args.trace))
    try:
        with run.span("session"):
            t0 = time.perf_counter()
            run.spark = harness.start_session(work)
            t_session = time.perf_counter() - t0
        run.stages = harness.SparkStages(run.spark)
        e2e, layers, notes = workloads.WORKLOADS[args.workload](run, t_session)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if run.spark is not None:
            harness.stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    if run.trace:
        run.tracer.write(
            os.path.join(ROOT, ".ftbench", "traces", f"{args.workload}-{seed}.json")
        )
    metrics, units = (layers, LAYER_UNITS) if run.trace else (e2e, E2E_UNITS)
    missing = sorted(set(units) - set(metrics))
    bad = sorted(k for k in units if k in metrics and not math.isfinite(metrics[k]))
    if missing or bad:
        print(f"ftbench: metrics missing {missing} or not finite {bad}", file=sys.stderr)
        return 1

    print(f"workload {args.workload} seed {seed}")
    for k, v in notes.items():
        print(f"  {k} = {v:.6g}" if isinstance(v, float) else f"  {k} = {v}")
    print(f"  failed_share = {run.failed / max(run.attempted, 1):.6g} "
          f"({run.failed} of {run.attempted} operations)")
    for f in run.failures[:20]:
        print(f"  FAILED: {f}")
    for k in units:
        print(f"  {k} = {metrics[k]:.6g} {units[k]}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
