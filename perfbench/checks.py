"""Crawl invariants, checked after every crawl run outside the timed region.

``collect_state`` reads the engine's tables through the public catalog into
plain Python data; ``check_crawl`` then checks that data only, so the
self-tests can inject faults into a collected state without Spark.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from dataclasses import dataclass, field

DENY_ALL_HOST = "talent.search.example"


@dataclass
class CrawlState:
    round_seconds: int
    robots: list[dict]
    # winning checkpoint row per committed round >= 0
    checkpoints: dict[int, dict]
    # (round, host, host_rank, url_canon) for every scheduled URL
    sched: list[tuple]
    # round -> (urls_scheduled, urls_fetched, urls_failed) summed over partitions
    crawl_log: dict[int, tuple[int, int, int]]
    # (url_canon, first_round)
    seen: list[tuple]
    # url_canon of every pending URL in the latest frontier
    frontier: list[str]
    docs_count: int
    # round -> frontier rows the round scheduled from: (url_canon, host, priority)
    pinned_frontiers: dict[int, list[tuple]] = field(default_factory=dict)


def collect_state(engine) -> CrawlState:
    from pyspark.sql import functions as F

    from job_crawler_spark import schemas
    from job_crawler_spark.crawl.round import CHECKPOINT_SCHEMA, PENDING_SCHEMA
    from job_crawler_spark.sources import synth

    spark, cat = engine.spark, engine.catalog
    ck_rows = [
        r.asDict()
        for r in cat.read(spark, engine.T_CKPT, schema=CHECKPOINT_SCHEMA).collect()
    ]
    best: dict[int, dict] = {}
    for r in ck_rows:
        cur = best.get(r["round"])
        if cur is None or (r["frontier_v"], r["seen_v"]) > (cur["frontier_v"], cur["seen_v"]):
            best[r["round"]] = r
    sched = [
        tuple(r)
        for r in cat.read(spark, engine.T_SCHED)
        .select("round", "host", "host_rank", "url_canon")
        .collect()
    ]
    log_rows = (
        cat.read(spark, engine.T_LOG, schema=schemas.CRAWL_LOG_SCHEMA)
        .groupBy("round")
        .agg(
            F.sum("urls_scheduled").alias("s"),
            F.sum("urls_fetched").alias("f"),
            F.sum("urls_failed").alias("x"),
        )
        .collect()
    )
    seen = [
        tuple(r)
        for r in cat.read(spark, engine.T_SEEN, schema=schemas.SEEN_SCHEMA).collect()
    ]
    frontier = [
        r.url_canon
        for r in cat.read(spark, engine.T_FRONTIER, schema=PENDING_SCHEMA)
        .select("url_canon")
        .collect()
    ]
    pinned = {}
    for rnd in sorted(k for k in best if k >= 0):
        fv = int(best[rnd - 1]["frontier_v"])
        pinned[rnd] = [
            tuple(r)
            for r in cat.read(spark, engine.T_FRONTIER, version=fv, schema=PENDING_SCHEMA)
            .select("url_canon", "host", "priority")
            .collect()
        ]
    return CrawlState(
        round_seconds=engine.round_seconds,
        robots=synth.robots_rows(),
        checkpoints={k: v for k, v in best.items() if k >= 0},
        sched=sched,
        crawl_log={r["round"]: (int(r.s), int(r.f), int(r.x)) for r in log_rows},
        seen=seen,
        frontier=frontier,
        docs_count=int(engine.read_docs().count()),
        pinned_frontiers=pinned,
    )


def _budget(robots: list[dict], host: str, round_seconds: int) -> int:
    rule = next((r for r in robots if r["host"] == host), None)
    delay = max(1, rule["crawl_delay"]) if rule else 1
    return max(1, round_seconds // delay)


def check_crawl(st: CrawlState) -> dict[str, str | None]:
    """Name -> None when the invariant holds, else a one-line reason."""
    from job_crawler_spark.operators.politeness import py_schedule

    out: dict[str, str | None] = {}
    per_round = Counter(r[0] for r in st.sched)

    bad = []
    for rnd, ck in sorted(st.checkpoints.items()):
        log = st.crawl_log.get(rnd, (0, 0, 0))
        if not (
            ck["scheduled"] == ck["fetched"] + ck["failed"]
            == per_round.get(rnd, 0)
            == log[0]
            and log[1] == ck["fetched"]
            and log[2] == ck["failed"]
        ):
            bad.append((rnd, ck["scheduled"], ck["fetched"], ck["failed"], per_round.get(rnd, 0), log))
    out["scheduled_eq_fetched_plus_failed"] = f"rounds {bad}" if bad else None

    per_host = Counter((r[0], r[1]) for r in st.sched)
    over = [
        (rnd, host, n, _budget(st.robots, host, st.round_seconds))
        for (rnd, host), n in per_host.items()
        if n > _budget(st.robots, host, st.round_seconds)
    ]
    out["host_budget"] = f"over budget {over[:3]}" if over else None

    denied = sum(1 for r in st.sched if r[1] == DENY_ALL_HOST)
    out["deny_all_never_scheduled"] = f"{denied} scheduled" if denied else None

    dup = [u for u, n in Counter(u for u, _ in st.seen).items() if n > 1]
    out["seen_unique"] = f"{len(dup)} duplicate url_canon" if dup else None

    seen_set = {u for u, _ in st.seen}
    sched_set = {r[3] for r in st.sched}
    out["seen_eq_schedule_union"] = (
        None
        if seen_set == sched_set
        else f"seen-only {len(seen_set - sched_set)}, schedule-only {len(sched_set - seen_set)}"
    )

    both = seen_set.intersection(st.frontier)
    out["frontier_seen_disjoint"] = f"{len(both)} in both" if both else None

    fetched = sum(ck["fetched"] for ck in st.checkpoints.values())
    out["docs_eq_fetched"] = (
        None if st.docs_count == fetched else f"docs {st.docs_count} != fetched {fetched}"
    )

    # crawl order: every round's schedule equals the single-process oracle
    # run on the frontier snapshot that round read
    wrong = []
    for rnd, rows in sorted(st.pinned_frontiers.items()):
        want = sorted(
            (r["host"], r["host_rank"], r["url_canon"])
            for r in py_schedule(
                [{"url_canon": u, "host": h, "priority": p} for u, h, p in rows],
                st.robots,
                st.round_seconds,
            )
        )
        got = sorted((h, k, u) for r0, h, k, u in st.sched if r0 == rnd)
        if got != want:
            wrong.append(rnd)
    out["crawl_order_matches_oracle"] = f"rounds {wrong}" if wrong else None
    return out


def digest(st: CrawlState, max_round: int) -> str:
    """Digest of the crawl order and the seen set up to ``max_round``:
    identical across runs of the same seed."""
    h = hashlib.sha256()
    for row in sorted(r for r in st.sched if r[0] <= max_round):
        h.update(repr(row).encode())
    for row in sorted(r for r in st.seen if r[1] <= max_round):
        h.update(repr(row).encode())
    return h.hexdigest()[:16]
