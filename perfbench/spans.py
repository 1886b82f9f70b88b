"""In-memory spans for the traced run, recorded from outside the program.

A span is (name, start, end, parent, op). Spans stay in memory and are
written as JSON when the run ends. The untraced run installs none of this.

``Tracer.wrap_catalog`` wraps the public ``Catalog`` methods and
``Tracer.op`` brackets one call into the engine (``run_round``,
``ingest_seeds``, one query) with a span and a Spark job group, so the
number of Spark jobs, stages and tasks the call launched can be read back
from the status tracker.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

CATALOG_METHODS = (
    "overwrite",
    "append",
    "overwrite_partition",
    "merge_upsert",
    "read",
    "read_pruned",
    "row_count",
    "snapshot_id",
)
COMMIT_METHODS = ("overwrite", "append", "overwrite_partition", "merge_upsert")


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.counts: dict[str, dict] = {}
        self._stack: list[int] = []
        self._op: str | None = None
        self._restore: list[tuple[type, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, time.perf_counter(), 0.0, parent, self._op)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    @contextmanager
    def op(self, op_id: str, name: str):
        """One engine call: a root span plus a Spark job group whose jobs,
        stages and tasks are counted into ``self.counts[op_id]``."""
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, name)
        self._op = op_id
        try:
            with self.span(name) as sp:
                yield sp
        finally:
            self._op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.counts[op_id] = self._job_counts(op_id)

    def _job_counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                sinfo = st.getStageInfo(sid)
                if sinfo is None or sinfo.numCompletedTasks == 0:
                    continue  # skipped stage (shuffle output reused)
                stages += 1
                tasks += sinfo.numCompletedTasks
        return {"spark_jobs": len(jobs), "spark_stages": stages, "spark_tasks": tasks}

    def span_cost_s(self, n: int = 20_000) -> float:
        """Measured cost of recording one span, for the in-line overhead."""
        probe = Tracer(self.spark)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) / n

    def wrap_catalog(self, catalog_cls: type) -> None:
        for meth in CATALOG_METHODS:
            orig = getattr(catalog_cls, meth)

            def wrapped(*a, __orig=orig, __name=f"catalog.{meth}", **kw):
                with self.span(__name):
                    return __orig(*a, **kw)

            functools.update_wrapper(wrapped, orig)
            self._restore.append((catalog_cls, meth, orig))
            setattr(catalog_cls, meth, wrapped)

    def unwrap(self) -> None:
        for cls, meth, orig in reversed(self._restore):
            setattr(cls, meth, orig)
        self._restore.clear()

    # -- derived numbers ---------------------------------------------------------
    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid]

    def self_seconds(self, sp: Span) -> float:
        """Span duration minus the part its child spans cover."""
        return (sp.end - sp.start) - sum(c.end - c.start for c in self.children(sp))

    def catalog_totals(self, roots: list[Span]) -> dict[str, float]:
        """Seconds and call counts per catalog method under ``roots``,
        counting only outermost catalog spans (a catalog method calling
        another is charged once, to the outer one)."""
        ids = {r.sid for r in roots}
        out: dict[str, float] = {}
        for s in self.spans:
            if s.parent in ids and s.name.startswith("catalog."):
                meth = s.name.split(".", 1)[1]
                out[f"{meth}_s"] = out.get(f"{meth}_s", 0.0) + (s.end - s.start)
                out[f"{meth}_n"] = out.get(f"{meth}_n", 0) + 1
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [sp.__dict__ for sp in self.spans],
                    "op_counts": self.counts,
                    **extra,
                },
                f,
                indent=1,
            )
