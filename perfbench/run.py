"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_steady --seed 1 --seconds 10 --trace 0

Runs one workload on ``local[nproc]`` in a fresh work directory under the
repository checkout, checks the program's outputs, and prints as its last
stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
is a separate traced run reporting the per-layer metrics and writing its
spans to ``.perfbench_out/``. Exits non-zero when a check fails, and
without a result line when the program is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

import harness
from harness import log

WORKLOADS = ("crawl_steady", "analytics_headline")

# (name, unit, better, bound): printed by every --trace 0 run
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("op_cpu_s", "s", "lower", 0.25),
    ("throughput_per_s", "1/s", "higher", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
]

HEADLINE = [
    "tpch_pricing_summary", "tpch_top_revenue_orders", "tpch_nation_revenue",
    "app_summary_join", "api_performance", "hourly_event_counts",
    "user_sessions", "quality_scores", "minhash_lsh_pairs",
    "ngram_jaccard_pairs", "emb_cosine_topk", "emb_lsh_ann_topk",
    "url_canonicalize", "politeness_rank", "seen_antijoin",
]

# (name, unit, better): printed by every --trace 1 run; a layer a workload
# does not exercise reports 0
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("crawl.round.spark_jobs", "count", "lower"),
    ("crawl.round.spark_stages", "count", "lower"),
    ("crawl.round.spark_tasks", "count", "lower"),
    ("crawl.round.self_s", "s", "lower"),
    ("crawl.round.p50_s", "s", "lower"),
    ("crawl.round.trace_overhead", "ratio", "lower"),
    ("crawl.round.scaling_eff_1_to_n", "ratio", "higher"),
    ("crawl.ingest.spark_jobs", "count", "lower"),
    ("crawl.ingest.spark_stages", "count", "lower"),
    ("crawl.ingest.spark_tasks", "count", "lower"),
    ("crawl.ingest.self_s", "s", "lower"),
    ("crawl.ingest.p50_s", "s", "lower"),
    ("catalog.overwrite_s", "s", "lower"),
    ("catalog.append_s", "s", "lower"),
    ("catalog.overwrite_partition_s", "s", "lower"),
    ("catalog.read_s", "s", "lower"),
    ("catalog.row_count_s", "s", "lower"),
    ("catalog.commits_per_round", "count", "lower"),
    ("catalog.files_per_round", "count", "lower"),
    ("catalog.bytes_per_round", "B", "lower"),
    ("catalog.warehouse_bytes_per_doc", "B", "lower"),
    ("politeness.schedule_s", "s", "lower"),
    ("politeness.frontier_rows", "count", "higher"),
    ("politeness.scheduled_rows", "count", "higher"),
    ("fetcher.fetch_s", "s", "lower"),
    ("fetcher.fetched_ok", "count", "higher"),
    ("fetcher.fail_ratio", "ratio", "lower"),
    ("fetcher.expand_s", "s", "lower"),
    ("fetcher.outlinks", "count", "higher"),
    ("parser.parse_s", "s", "lower"),
    ("parser.enrich_s", "s", "lower"),
    ("parser.spans_per_doc", "count", "higher"),
    ("bloom.build_s", "s", "lower"),
    ("bloom.probe_s", "s", "lower"),
    ("bloom.candidates", "count", "higher"),
    ("bloom.provably_new_ratio", "ratio", "higher"),
    ("bloom.filter_bytes", "B", "lower"),
    ("dedup.first_wins_s", "s", "lower"),
    ("dedup.anti_join_s", "s", "lower"),
    ("dedup.admitted_ratio", "ratio", "higher"),
] + [(f"plans.{q}_s", "s", "lower") for q in HEADLINE]


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("default", "tiny"), default="default",
                    help="input sizes; 'tiny' is for the self-tests")
    return ap.parse_args(argv)


def _workload(args, spark, work, cores: int, session_s: float):
    """Run the workload; (values, attempted, failed, tracer or None, extra)."""
    import analytics
    import crawl

    if args.workload == "crawl_steady":
        size = crawl.SIZES[args.size]
        fn = crawl.run_crawl_steady_traced if args.trace else crawl.run_crawl_steady
        return fn(spark, work, size, args.seed, args.seconds, session_s)
    size = analytics.SIZES[args.size]
    if not args.trace:
        return analytics.run_analytics(spark, work, size, args.seed, args.seconds, session_s)
    values, attempted, failed, tracer, extra = analytics.run_analytics_traced(
        spark, work, size, args.seed, args.seconds, session_s)
    # the drain-round scaling diagnostic rides this traced run, the shorter
    # of the two; it uses its own throwaway warehouses
    diag, same = crawl.scaling_diagnostic(work, cores, crawl.SIZES[args.size].drain_seeds)
    values["crawl.round.scaling_eff_1_to_n"] = diag["scaling_eff_1_to_n"]
    extra["drain"] = diag
    if not same:
        log("CHECK FAILED drain rounds on local[1] and local[n] fetched different URL counts")
    return values, attempted + 1, failed + (not same), tracer, extra


def run(args: argparse.Namespace) -> tuple[dict, int]:
    """Run one workload; returns (result object, exit code)."""
    cores = harness.nproc()
    harness.adopt_orphans()
    work = harness.WorkDir()
    harness.configure_env(work, cores)
    log(f"work dir (warehouse, spark.local.dir, temp): {work.root}; local[{cores}]")
    rss = harness.RssSampler()
    try:
        spark, session_s = harness.start_session(work, cores)
        rss.start()
        values, attempted, failed, tracer, extra = _workload(args, spark, work, cores, session_s)
        peak_mb = rss.stop()
    finally:
        rss.stop()
        try:
            harness.stop_session()
        finally:
            work.close()

    if args.trace:
        path = os.path.join(
            harness.OUT_ROOT, f"trace-{args.workload}-seed{args.seed}-{int(time.time())}.json")
        tracer.dump(path, {"workload": args.workload, "seed": args.seed,
                           "per_layer": values, **extra})
        log(f"spans written to {path}")
        metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
                   for name, unit, _ in PER_LAYER}
    else:
        log("detail: " + json.dumps(extra, default=str))
        values["peak_rss_mb"] = peak_mb
        metrics = {name: {"value": float(values[name]), "unit": unit}
                   for name, unit, _, _ in END_TO_END}
    result = {"correct": failed == 0, "attempted": int(attempted),
              "failed": int(failed), "metrics": metrics}
    return result, 0 if failed == 0 else 1


def _exit_on_signal(signum, _frame) -> None:
    # SystemExit unwinds through run()'s finally, which stops the JVM; a
    # second signal must not cut that shutdown short
    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(sig, signal.SIG_IGN)
    raise SystemExit(128 + signum)


def main(argv: list[str]) -> int:
    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(sig, _exit_on_signal)
    args = parse_args(argv)
    if not harness.program_importable():
        log(f"the program (job_crawler_spark, __spark_entry__.py) is not in {harness.REPO_ROOT}")
        return 2
    result, code = run(args)
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
