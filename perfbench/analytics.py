"""analytics_headline: the 15 headline queries over seeded synthetic tables.

Closed loop, one client: one thread runs each query of
``bench.HEADLINE`` (from ``__spark_entry__.queries()``), collecting its
result into this process, each after the previous finished, pass after pass.
The seed generates the tables and permutes the query order of every pass.
"""

from __future__ import annotations

import importlib.util
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import datagen
from harness import REPO_ROOT, cpu_seconds, log, median, nproc


# table scale factor per --size
SIZES = {"default": 0.002, "tiny": 0.001}
DATAGENS = 3  # set-up repetitions; setup_s takes their median


def _oracle_harness():
    """tests/oracle_harness.py, loaded read-only by path."""
    path = os.path.join(REPO_ROOT, "tests", "oracle_harness.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_harness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Collected:
    """A collected query result, shaped like the DataFrame the oracle
    harness compares (``columns`` and ``collect()``)."""

    def __init__(self, columns: list[str], rows: list) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows

    def canon(self) -> list:
        return sorted(map(repr, self._rows))


class AnalyticsHeadline:
    def __init__(self, spark, work, sf: float, seed: int) -> None:
        import __spark_entry__
        from bench import HEADLINE

        self.spark = spark
        self.sf = sf
        self.seed = seed
        self.tracer = None  # a spans.Tracer in the traced run
        self.sf_dir = work.path("tables")
        self.rng = random.Random(seed)
        queries = __spark_entry__.queries()
        self.queries = {n: queries[n] for n in HEADLINE}
        self.oracles = {n: __spark_entry__.oracle_sql()[n] for n in HEADLINE}
        self.query_s: dict[str, list[float]] = {n: [] for n in HEADLINE}
        self.query_cpu_s: list[float] = []
        self.pass_s: list[float] = []
        self.results: dict[str, _Collected] = {}
        self.attempted = 0
        self.failed = 0

    def setup(self) -> dict:
        """Write the tables ``DATAGENS`` times (the last copy is kept), then
        an untimed warm-up: every query once, to the noop sink, so JVM code
        generation and Python-worker start land in set-up; then one pass the
        way the timed loop runs it, since after the first the JIT is still
        compiling (the next pass is ~25% faster and its CPU per query varies
        several times as much from run to run)."""
        gens = []
        for _ in range(DATAGENS):
            shutil.rmtree(self.sf_dir, ignore_errors=True)
            t0 = time.perf_counter()
            datagen.write(self.sf_dir, self.seed, self.sf)
            gens.append(time.perf_counter() - t0)
        log(f"analytics tables: {self.sf_dir}")
        t0 = time.perf_counter()
        # the warm-up is not the measured loop, so it runs the queries from
        # one thread per core; every future's result is read
        with ThreadPoolExecutor(max_workers=nproc()) as pool:
            for f in [pool.submit(self._warm, q) for q in self.queries.values()]:
                f.result()
        for q in self.queries.values():
            q(self.spark, self.sf_dir).collect()
        return {"datagen_s": median(gens), "warmup_s": time.perf_counter() - t0}

    def _warm(self, q) -> None:
        q(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()

    def _run(self, name: str) -> float:
        """One query, its result collected into this process."""
        df = self.queries[name](self.spark, self.sf_dir)
        c0 = cpu_seconds()
        if self.tracer is None:
            t0 = time.perf_counter()
            rows = df.collect()
            dt = time.perf_counter() - t0
        else:
            with self.tracer.op(f"{name}-{len(self.tracer.counts)}", f"plans.{name}") as sp:
                rows = df.collect()
            dt = sp.end - sp.start
        self.query_cpu_s.append(cpu_seconds() - c0)
        res = _Collected(df.columns, rows)
        first = self.results.setdefault(name, res)
        if first.canon() != res.canon():
            self.failed += 1
            log(f"CHECK FAILED {name}: result differs between passes")
        return dt

    def timed_loop(self, seconds: float) -> None:
        """Passes over all headline queries, each in a seeded order, until
        ``seconds`` have passed."""
        t0 = time.perf_counter()
        while True:
            order = list(self.queries)
            self.rng.shuffle(order)
            total = 0.0
            for name in order:
                self.attempted += 1
                dt = self._run(name)
                self.query_s[name].append(dt)
                total += dt
            self.pass_s.append(total)
            if time.perf_counter() - t0 >= seconds:
                return

    def check(self) -> dict[str, str | None]:
        """Every headline result of the first timed pass against its DuckDB
        oracle."""
        oh = _oracle_harness()
        con = oh.duck_conn(self.sf_dir)
        out: dict[str, str | None] = {}
        try:
            for name, res in self.results.items():
                try:
                    oh.compare(res, con, self.oracles[name])
                    out[name] = None
                except AssertionError as e:
                    out[name] = str(e)[:300]
        finally:
            con.close()
        return out


def run_analytics(spark, work, sf: float, seed: int, seconds: float, session_s: float):
    wl = AnalyticsHeadline(spark, work, sf, seed)
    setup = wl.setup()
    wl.timed_loop(seconds)
    results = wl.check()
    for name, err in results.items():
        if err:
            log(f"CHECK FAILED oracle {name}: {err}")
    all_q = [t for ts in wl.query_s.values() for t in ts]
    metrics = {
        "setup_s": session_s + setup["datagen_s"] + setup["warmup_s"],
        "op_p50_s": median(all_q),
        # a mean: the JIT and GC threads' CPU lands on whichever query runs
        "op_cpu_s": sum(wl.query_cpu_s) / len(wl.query_cpu_s),
        "throughput_per_s": len(all_q) / sum(wl.pass_s),
    }
    attempted = wl.attempted + len(results)
    failed = wl.failed + sum(1 for e in results.values() if e)
    return metrics, attempted, failed, None, {"query_s": wl.query_s, "checks": results, **setup}


def run_analytics_traced(spark, work, sf: float, seed: int, seconds: float, session_s: float):
    from spans import Tracer

    tracer = Tracer(spark)
    wl = AnalyticsHeadline(spark, work, sf, seed)
    wl.setup()
    wl.tracer = tracer
    wl.timed_loop(seconds)
    wl.tracer = None
    results = wl.check()
    for name, err in results.items():
        if err:
            log(f"CHECK FAILED oracle {name}: {err}")
    m = {"session.start_s": session_s}
    for name, ts in wl.query_s.items():
        m[f"plans.{name}_s"] = median(ts)
    attempted = wl.attempted + len(results)
    failed = wl.failed + sum(1 for e in results.values() if e)
    return m, attempted, failed, tracer, {"checks": results}
