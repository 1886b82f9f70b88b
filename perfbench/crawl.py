"""crawl_steady: budget-capped crawl rounds alternating with seed ingests.

Closed loop, one client: one thread calls ``ingest_seeds`` and then
``run_round``, each after the previous call returned. All inputs are frames
from ``synth.seed_frontier``; the seed picks the id offset of the crawl and
which already-admitted ids each ingest batch repeats.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass

import checks
from harness import cpu_seconds, dir_bytes, log, median


# share of each ingest batch already seen or pending
OVERLAP = 0.75


@dataclass(frozen=True)
class SteadySize:
    seeds: int = 6_000
    round_seconds: int = 120
    ingest_batch: int = 1_200
    drain_seeds: int = 1_500  # traced scaling diagnostic


SIZES = {
    "default": SteadySize(),
    "tiny": SteadySize(
        seeds=600, round_seconds=30, ingest_batch=120, drain_seeds=200,
    ),
}


class Inputs:
    """Seeded input frames. Ingest batch ``i`` depends only on the seed and
    ``i``: ``OVERLAP`` of it repeats a contiguous run of already-admitted
    ids, the rest are the next fresh ids."""

    def __init__(self, spark, size: SteadySize, seed: int) -> None:
        self.spark = spark
        self.size = size
        self.rng = random.Random(seed)
        self.base = 1_000_000 * (1 + self.rng.randrange(900))
        self.admitted_hi = self.base + size.seeds

    def seeds(self):
        from job_crawler_spark.sources import synth

        return synth.seed_frontier(self.spark, self.size.seeds, start=self.base)

    def ingest_batch(self):
        from job_crawler_spark.sources import synth

        n_old = int(self.size.ingest_batch * OVERLAP)
        n_new = self.size.ingest_batch - n_old
        old_start = self.base + self.rng.randrange(self.admitted_hi - self.base - n_old)
        frame = synth.seed_frontier(self.spark, n_old, start=old_start).unionByName(
            synth.seed_frontier(self.spark, n_new, start=self.admitted_hi)
        )
        self.admitted_hi += n_new
        return frame, self.size.ingest_batch


def make_engine(spark, root: str, round_seconds: int, **kw):
    from job_crawler_spark.catalog import Catalog
    from job_crawler_spark.crawl.round import CrawlEngine
    from job_crawler_spark.sources import synth

    return CrawlEngine(
        spark=spark,
        catalog=Catalog(root=root),
        robots=synth.robots_df(spark),
        round_seconds=round_seconds,
        **kw,
    )


class CrawlSteady:
    def __init__(self, spark, work, size: SteadySize, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.size = size
        self.tracer = None  # a spans.Tracer in the traced run
        self.inputs = Inputs(spark, size, seed)
        self.engine = None
        self.next_round = 0
        self.round_s: list[float] = []
        self.round_cpu_s: list[float] = []
        self.ingest_s: list[float] = []
        self.fetched = 0
        self.admitted: list[tuple[int, int]] = []
        self.round_files: list[tuple[int, int]] = []
        self.attempted = 0
        self.failed = 0

    # -- set-up ---------------------------------------------------------------
    def setup(self) -> dict:
        """Bootstrap the crawl, then an untimed warm-up, round 0, so JVM
        code generation and Python-worker start land in set-up and not in
        the timed loop, which starts at round 1. Bootstrap and round 0 run
        every code path an ingest does."""
        self.warehouse = self.work.path("crawl")
        log(f"crawl warehouse: {self.warehouse}")
        self.engine = make_engine(self.spark, self.warehouse, self.size.round_seconds)
        t0 = time.perf_counter()
        self.engine.bootstrap(self.inputs.seeds())
        boot = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.engine.run_round(0)
        self.next_round = 1
        return {"bootstrap_s": boot, "warmup_s": time.perf_counter() - t0}

    # -- timed operations -----------------------------------------------------
    def _call(self, kind: str, fn):
        if self.tracer is None:
            t0 = time.perf_counter()
            res = fn()
            return res, time.perf_counter() - t0
        op_id = f"{kind}-{len(self.tracer.counts)}"
        with self.tracer.op(op_id, f"crawl.{kind}") as sp:
            res = fn()
        return res, sp.end - sp.start

    def ingest(self) -> None:
        frame, n = self.inputs.ingest_batch()
        self.attempted += 1
        admitted, dt = self._call("ingest", lambda: self.engine.ingest_seeds(frame))
        self.ingest_s.append(dt)
        self.admitted.append((int(admitted), n))

    def round(self) -> None:
        rnd = self.next_round
        self.attempted += 1
        before = dir_bytes(self.warehouse) if self.tracer else (0, 0)
        c0 = cpu_seconds()
        res, dt = self._call("round", lambda: self.engine.run_round(rnd))
        cpu = cpu_seconds() - c0
        after = dir_bytes(self.warehouse) if self.tracer else (0, 0)
        if res.get("done"):
            self.failed += 1
            log(f"round {rnd} scheduled nothing")
            return
        self.round_s.append(dt)
        self.round_cpu_s.append(cpu)
        self.round_files.append((after[0] - before[0], after[1] - before[1]))
        self.fetched += int(res["fetched"])
        self.next_round += 1

    def timed_loop(self, seconds: float) -> None:
        """Cycles of ingest + round until ``seconds`` have passed."""
        t0 = time.perf_counter()
        while True:
            self.ingest()
            self.round()
            if time.perf_counter() - t0 >= seconds:
                return

    # -- after the timed region -------------------------------------------------
    def check(self) -> tuple[dict, str]:
        st = checks.collect_state(self.engine)
        res = checks.check_crawl(st)
        dig = checks.digest(st, max_round=1)
        return res, dig

    def warehouse_bytes_per_doc(self) -> float:
        _, size = dir_bytes(self.warehouse)
        docs = self.engine.catalog.row_count(self.engine.T_DOCS)
        return size / max(1, docs)


def run_crawl_steady(spark, work, size: SteadySize, seed: int, seconds: float, session_s: float):
    """Untraced run: returns (metrics, attempted, failed, None, detail)."""
    wl = CrawlSteady(spark, work, size, seed)
    setup = wl.setup()
    wl.timed_loop(seconds)
    t0 = time.perf_counter()
    results, dig = wl.check()
    setup["check_s"] = time.perf_counter() - t0
    log(f"crawl digest (rounds 0-1 order + seen): {dig}")
    for name, err in results.items():
        if err:
            log(f"CHECK FAILED {name}: {err}")
    attempted = wl.attempted + len(results)
    failed = wl.failed + sum(1 for e in results.values() if e)
    metrics = {
        "setup_s": session_s + setup["warmup_s"] + setup["bootstrap_s"],
        "op_p50_s": median(wl.round_s),
        # a mean: the JIT and GC threads' CPU lands on whichever call runs
        "op_cpu_s": sum(wl.round_cpu_s) / len(wl.round_cpu_s),
        # fetched-and-parsed URLs per second of round + ingest wall time
        "throughput_per_s": wl.fetched / (sum(wl.round_s) + sum(wl.ingest_s)),
    }
    detail = {
        "round_s": wl.round_s,
        "ingest_s": wl.ingest_s,
        "ingest_p50_s": median(wl.ingest_s),
        "warehouse_bytes_per_doc": wl.warehouse_bytes_per_doc(),
        "digest": dig,
        "checks": results,
        **setup,
    }
    return metrics, attempted, failed, None, detail


def drain_round_seconds(spark, work, n_seeds: int, tag: str) -> tuple[float, int]:
    """One uncapped round (``salted=False``, unbounded budget) over
    ``n_seeds`` fresh seeds in a throwaway warehouse: (seconds, fetched)."""
    from job_crawler_spark.sources import synth

    root = work.path(f"drain-{tag}")
    eng = make_engine(spark, root, 10**9, salted=False)
    eng.bootstrap(synth.seed_frontier(spark, n_seeds, start=3_000_000_000))
    t0 = time.perf_counter()
    res = eng.run_round(0)
    dt = time.perf_counter() - t0
    shutil.rmtree(root, ignore_errors=True)
    return dt, int(res["scheduled"])


def isolated_layers(spark, engine, inputs: Inputs, work) -> dict[str, float]:
    """Time each lazy layer's public function alone, forced to the noop
    sink, on one round's materialized input. Each layer's input is written
    to parquet first (untimed) so no upstream work is timed twice."""
    from pyspark.sql import functions as F

    from job_crawler_spark import schemas
    from job_crawler_spark.crawl import fetcher, parser
    from job_crawler_spark.crawl.round import PENDING_SCHEMA
    from job_crawler_spark.functions.urls import canonicalize_url_col, host_col
    from job_crawler_spark.operators import bloom
    from job_crawler_spark.operators.dedup import anti_join_seen, first_wins_agg
    from job_crawler_spark.operators.politeness import schedule_batch

    cat = engine.catalog
    out: dict[str, float] = {}
    base = work.path("layers")

    def materialize(df, name: str):
        path = os.path.join(base, name)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def timed(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    frontier = materialize(
        cat.read(spark, engine.T_FRONTIER, schema=PENDING_SCHEMA), "frontier"
    )
    seen = materialize(cat.read(spark, engine.T_SEEN, schema=schemas.SEEN_SCHEMA), "seen")

    sched = schedule_batch(
        frontier, engine.robots, engine.round_seconds, engine.salt_buckets, salted=engine.salted
    )
    out["politeness.schedule_s"] = timed(sched)
    batch = materialize(sched, "batch")
    out["politeness.frontier_rows"] = frontier.count()
    out["politeness.scheduled_rows"] = batch.count()

    fetched_df = fetcher.fetch_pages(batch)
    out["fetcher.fetch_s"] = timed(fetched_df)
    fetched = materialize(fetched_df, "fetched")
    n_ok = fetched.filter(F.col("fetch_ok")).count()
    out["fetcher.fetched_ok"] = n_ok
    out["fetcher.fail_ratio"] = 1.0 - n_ok / max(1, fetched.count())

    ok_pages = fetched.filter(F.col("fetch_ok")).select("url_canon", "depth", "page")
    parsed_df = parser.parse_pages(ok_pages.select("url_canon", "page"))
    out["parser.parse_s"] = timed(parsed_df)
    parsed = materialize(parsed_df, "parsed")
    enriched = parser.enrich_documents(parsed.select("doc_id", "spans"))
    out["parser.enrich_s"] = timed(enriched)
    spans = parsed.agg(F.sum(F.size("spans")).alias("s"), F.count(F.lit(1)).alias("n")).first()
    out["parser.spans_per_doc"] = (spans.s or 0) / max(1, spans.n)

    links = materialize(
        parsed.join(ok_pages.select(F.col("url_canon").alias("doc_id"), "depth"), "doc_id")
        .select("depth", F.explode_outer("outlinks").alias("outlink"))
        .filter(F.col("outlink").isNotNull()),
        "links",
    )
    cands_df = fetcher.expand_outlinks(links)
    out["fetcher.expand_s"] = timed(cands_df)
    candidates = materialize(cands_df.filter(F.col("host") != ""), "candidates")
    out["fetcher.outlinks"] = links.count()

    shards_df = bloom.build_shards(
        seen.select("url_canon"), "url_canon", engine.bloom_shards, engine.bloom_bits,
        engine.bloom_k,
    )
    out["bloom.build_s"] = timed(shards_df)
    shards = bloom.collect_shards(
        materialize(shards_df, "shards"), engine.bloom_shards, engine.bloom_bits, engine.bloom_k
    )
    new, maybe, flagged = bloom.split_by_bloom(candidates, spark, shards, "url_canon", persist=False)
    out["bloom.probe_s"] = timed(flagged)
    n_cand = candidates.count()
    out["bloom.candidates"] = n_cand
    out["bloom.provably_new_ratio"] = new.count() / max(1, n_cand)
    out["bloom.filter_bytes"] = engine.bloom_shards * engine.bloom_bits // 8

    raw, _ = inputs.ingest_batch()
    canon = materialize(
        raw.withColumn("url_canon", canonicalize_url_col(F.col("url")))
        .withColumn("host", host_col(F.col("url")))
        .withColumn("neg_priority", -F.col("priority")),
        "ingest_canon",
    )
    out["dedup.first_wins_s"] = timed(
        first_wins_agg(canon, ["url_canon"], ["neg_priority", "url"])
    )
    out["dedup.anti_join_s"] = timed(anti_join_seen(materialize(maybe, "maybe"), seen))
    shutil.rmtree(base, ignore_errors=True)
    return out


def run_crawl_steady_traced(spark, work, size: SteadySize, seed: int, seconds: float, session_s: float):
    """Traced run: returns (per-layer metrics, attempted, failed, tracer, extra).

    The timed loop runs with spans on every catalog method and a job group
    around every engine call; the job counts are read after the call's span
    has ended, so the only tracing work inside a timed call is recording
    its catalog spans. ``crawl.round.trace_overhead`` is that work, the
    round's span count times the measured cost of one span, as a share of
    the round's time."""
    from job_crawler_spark.catalog import Catalog

    from spans import COMMIT_METHODS, Tracer

    tracer = Tracer(spark)
    wl = CrawlSteady(spark, work, size, seed)
    wl.setup()
    tracer.wrap_catalog(Catalog)
    wl.tracer = tracer
    try:
        wl.timed_loop(seconds)
    finally:
        tracer.unwrap()
    m: dict[str, float] = {"session.start_s": session_s}
    for kind in ("round", "ingest"):
        ops = [sp for sp in tracer.spans if sp.name == f"crawl.{kind}"]
        for key in ("spark_jobs", "spark_stages", "spark_tasks"):
            m[f"crawl.{kind}.{key}"] = median([tracer.counts[sp.op][key] for sp in ops])
        m[f"crawl.{kind}.self_s"] = median([tracer.self_seconds(sp) for sp in ops])
        m[f"crawl.{kind}.p50_s"] = median([sp.end - sp.start for sp in ops])
    rounds = [sp for sp in tracer.spans if sp.name == "crawl.round"]
    cat = tracer.catalog_totals(rounds)
    for meth in ("overwrite", "append", "overwrite_partition", "read", "row_count"):
        m[f"catalog.{meth}_s"] = cat.get(f"{meth}_s", 0.0) / len(rounds)
    m["catalog.commits_per_round"] = sum(cat.get(f"{c}_n", 0) for c in COMMIT_METHODS) / len(rounds)
    m["catalog.files_per_round"] = median([f for f, _ in wl.round_files])
    m["catalog.bytes_per_round"] = median([b for _, b in wl.round_files])
    m["catalog.warehouse_bytes_per_doc"] = wl.warehouse_bytes_per_doc()
    m["dedup.admitted_ratio"] = sum(a for a, _ in wl.admitted) / sum(n for _, n in wl.admitted)
    in_rounds = sum(1 for s in tracer.spans if s.op in {r.op for r in rounds}) - len(rounds)
    m["crawl.round.trace_overhead"] = (
        tracer.span_cost_s() * in_rounds / len(rounds) / m["crawl.round.p50_s"]
    )

    results, dig = wl.check()
    attempted = wl.attempted + len(results)
    failed = wl.failed + sum(1 for e in results.values() if e)
    for name, err in results.items():
        if err:
            log(f"CHECK FAILED {name}: {err}")
    m.update(isolated_layers(spark, wl.engine, wl.inputs, work))
    return m, attempted, failed, tracer, {"digest": dig, "checks": results}


def scaling_diagnostic(work, cores: int, n_seeds: int) -> tuple[dict, bool]:
    """One uncapped drain round on ``local[cores]`` (the running session)
    and, after a restart, on ``local[1]``: strong-scaling efficiency
    t_1 / (cores * t_n). Returns (numbers, both rounds fetched the same)."""
    from pyspark.sql import SparkSession

    from harness import start_session

    t_n, n_urls = drain_round_seconds(SparkSession.getActiveSession(), work, n_seeds, "n")
    SparkSession.getActiveSession().stop()
    spark1, _ = start_session(work, 1, "perfbench-1core")
    t_1, n1 = drain_round_seconds(spark1, work, n_seeds, "1")
    return (
        {"cores": cores, "seconds_n": t_n, "seconds_1": t_1, "urls": n_urls,
         "scaling_eff_1_to_n": t_1 / (cores * t_n)},
        n1 == n_urls,
    )
