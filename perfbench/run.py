"""Benchmark of the kafka_connect_opensearch_spark engine.

    python3 perfbench/run.py --workload load_search --seed 1 --seconds 8 --trace 0

Runs one seeded workload against the package's public API from one
closed-loop client on ``local[<cores>]``, checks every result against the
benchmark's own oracles, prints one report line per metric (name, value,
unit, sample count) and, as the last line of standard output, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` records spans around every
call into a layer and reports the per-layer metrics instead.

Run from the root of a checkout that holds the package; exits 2 without
a result anywhere else. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("load_search", "stream_ingest")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "write_docs_per_s": "docs/s",
    "bm25_p50_ms": "ms",
    "batch_s": "s",
}

# the contract slice of load_search (inputs.CONTRACT_QUERIES)
CONTRACT = ("dedup_exact", "cosine_topk", "language_id", "malformed_routing",
            "events_sliding")
LAYERS = ("indexer", "positions_build", "positions_query", "bm25", "pipeline",
          "streaming", "segments", "merge", "contract", "harness")

PER_LAYER = {
    **{f"layer.{name}.self_s": "s" for name in LAYERS},
    "indexer.bulk.s": "s",
    "indexer.bulk.jobs": "count",
    "indexer.bulk.tasks": "count",
    "indexer.bulk.postings": "count",
    "indexer.store.bytes_per_posting": "B",
    "positions.build.extra_s": "s",
    "positions.store.bytes": "B",
    "pipeline.ingest.s": "s",
    "pipeline.ingest.jobs": "count",
    "pipeline.ingest.build_s": "s",
    "pipeline.ingest.policy_s": "s",
    "pipeline.ingest.dlq_rows": "count",
    "pipeline.ingest.deletes_applied": "count",
    "bm25.topk.rare.p50_ms": "ms",
    "bm25.topk.stopword.p50_ms": "ms",
    "bm25.topk.or.p50_ms": "ms",
    "bm25.topk.and.p50_ms": "ms",
    "bm25.first_touch.p50_ms": "ms",
    "bm25.repeat.p50_ms": "ms",
    "bm25.p95_ms": "ms",
    "bm25.postings_per_query": "count",
    "bm25.us_per_posting": "us",
    "bm25.open_ms": "ms",
    "bm25.search_df.ms": "ms",
    "positions.phrase.stop_pair.p50_ms": "ms",
    "positions.phrase.rare_hot.p50_ms": "ms",
    "positions.phrase.chain3.p50_ms": "ms",
    "positions.phrase.repeat.p50_ms": "ms",
    "positions.near.p50_ms": "ms",
    "positions.first_touch.p50_ms": "ms",
    "positions.open_ms": "ms",
    "stream.drain.s": "s",
    "stream.batches": "count",
    "stream.batch.p50_ms": "ms",
    "stream.batch.max_ms": "ms",
    "segments.active.pre_merge": "count",
    "segments.active.post_merge": "count",
    "merge.auto_merge.s": "s",
    "merge.segments_merged": "count",
    "merge.postings_rewritten": "count",
    "merge.jobs": "count",
    **{f"contract.{q}.{k}": u for q in CONTRACT
       for k, u in (("s", "s"), ("jobs", "count"))},
    "trace.coverage_min": "ratio",
    "trace.calls_within_10pct": "ratio",
    "trace.overhead_pct": "%",
    "trace.spans": "count",
}

# span name → layer; positions spans split into build and query sides
def span_layer(name: str) -> str:
    if name == "positions.build":
        return "positions_build"
    head = name.split(".", 1)[0]
    return "positions_query" if head == "positions" else head


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="closed-loop query time per run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def trace_metrics(run) -> dict:
    from measure import coverage, layer_self_times

    spans = [s for s in run.tracer.spans if s["end"] is not None]
    out = {f"layer.{k}.self_s": 0.0 for k in LAYERS}
    for layer, t in layer_self_times(spans, span_layer).items():
        out[f"layer.{layer}.self_s"] = t
    phases = [s for s in spans if s["name"].startswith("harness.")]
    out["trace.coverage_min"] = min(coverage(spans, s["id"]) for s in phases)
    calls = [s for s in spans if "timed_s" in s]
    out["trace.calls_within_10pct"] = sum(
        abs((s["end"] - s["start"]) - s["timed_s"]) <= 0.1 * s["timed_s"]
        for s in calls) / len(calls)
    timed_wall = sum(s["end"] - s["start"] for s in phases)
    out["trace.overhead_pct"] = 100.0 * (
        run.tracer.bookkeeping_s + run.jobs.bookkeeping_s) / timed_wall
    out["trace.spans"] = len(spans)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "kafka_connect_opensearch_spark",
                                        "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no kafka_connect_opensearch_spark package under "
              f"{ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import importlib

    from harness import Run, WorkDir, start_spark, stop_spark

    workload = importlib.import_module(args.workload)
    with WorkDir(ROOT) as work:
        t0 = time.perf_counter()
        spark = start_spark(ROOT, work)
        session_s = time.perf_counter() - t0
        try:
            run = Run(spark, work, args.seed, args.seconds, bool(args.trace))
            with run.tracer.span("setup", op=0):  # not a layer
                staged, staging_s, warmup_s = workload.setup(run)
            r = workload.timed(run, staged)
            t0 = time.perf_counter()
            workload.check(run, staged, r)
            check_s = time.perf_counter() - t0
            e2e = workload.metrics(run, staged, r)
            if args.trace:
                workload.layer_extras(run, staged, r)
        finally:
            t0 = time.perf_counter()
            stop_spark(spark)
            stop_s = time.perf_counter() - t0
    e2e["setup_s"] = session_s + staging_s + warmup_s

    if args.trace:
        run.layer.update(trace_metrics(run))
        out_path = os.path.join(ROOT, ".perfbench_traces",
                                f"{args.workload}_seed{args.seed}.jsonl")
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        run.tracer.write(out_path)
        spec, values = PER_LAYER, {k: run.layer.get(k, 0) for k in PER_LAYER}
    else:
        spec, values = END_TO_END, e2e
    w = args.workload
    print(f"{w} setup: session {session_s:.3f} s, staging {staging_s:.3f} s "
          f"(median of reps), warm-up {warmup_s:.3f} s; untimed: checks "
          f"{check_s:.3f} s, shutdown {stop_s:.3f} s")
    for name, value, unit, n in run.report:
        print(f"{w} {name} = {value:.6g} {unit} (n={n})")
    for name, unit in spec.items():
        if values.get(name) is not None:
            print(f"{w} {name} = {float(values[name]):.6g} {unit}")
    if args.trace:  # traced minus untraced (same seed) = tracing overhead
        for name, unit in END_TO_END.items():
            if e2e.get(name) is not None:
                print(f"{w} {name} (traced) = {float(e2e[name]):.6g} {unit}")
    error_rate = run.failed / run.attempted
    print(f"{w} error_rate = {error_rate:.6g} ({run.failed}/{run.attempted})")
    for e in run.errors:
        print(f"{w} error: {e}", file=sys.stderr)
    missing = [k for k in spec if values.get(k) is None]
    if missing:
        print(f"perfbench: too few samples for {missing}", file=sys.stderr)
        return 1
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in spec.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
