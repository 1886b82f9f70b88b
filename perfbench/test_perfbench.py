"""Self-tests for the benchmark. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider

The tiny-size runs start Spark and take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, REPO_ROOT)

import checks  # noqa: E402
import run  # noqa: E402


def _bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    # output goes to files, not pipes: reading a pipe to its end would also
    # wait for any process the run left behind holding it open
    cmd = [sys.executable, "perfbench/run.py", *args]
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        code = subprocess.run(cmd, cwd=cwd, stdout=out, stderr=err, timeout=600).returncode
        out.seek(0)
        err.seek(0)
        return subprocess.CompletedProcess(cmd, code, out.read(), err.read())


def _result(proc: subprocess.CompletedProcess) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _left_running() -> list[int]:
    """Processes still running with a benchmark work dir in their command
    line (the JVM) or environment (the Python workers it forks)."""
    mark = os.path.join(REPO_ROOT, ".perfbench_work").encode()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        for part in ("cmdline", "environ"):
            try:
                with open(f"/proc/{name}/{part}", "rb") as f:
                    if mark in f.read():
                        pids.append(int(name))
                        break
            except OSError:
                pass
    return pids


def test_benchmark_json_matches_catalogue():
    from bench import HEADLINE

    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in run.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in run.PER_LAYER
    ]
    assert run.HEADLINE == HEADLINE
    setup_bound = dict((m[0], m[3]) for m in run.END_TO_END)["setup_s"]
    assert setup_bound == max(m[3] for m in run.END_TO_END)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_run_prints_every_metric(workload):
    proc = _bench(REPO_ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
                  "--trace", "0", "--size", "tiny")
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = _result(proc)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m[0]: m[1] for m in run.END_TO_END
    }
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert _left_running() == []


def test_crawl_digest_repeats_for_a_seed():
    digests = []
    for _ in range(2):
        proc = _bench(REPO_ROOT, "--workload", "crawl_steady", "--seed", "3", "--seconds", "1",
                      "--trace", "0", "--size", "tiny")
        assert proc.returncode == 0, proc.stderr[-2000:]
        line = next(ln for ln in proc.stderr.splitlines() if "crawl digest" in ln)
        digests.append(line.rsplit(" ", 1)[1])
    assert digests[0] == digests[1]


def test_exits_without_result_when_program_is_absent(tmp_path):
    shutil.copy(os.path.join(REPO_ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench(str(tmp_path), "--workload", "crawl_steady", "--seed", "1",
                  "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# -- fault injection on a hand-built crawl state --------------------------------

def _state() -> checks.CrawlState:
    """One round over a small frontier, consistent by construction: the
    schedule is the oracle's, every scheduled URL fetched and seen."""
    from job_crawler_spark.operators.politeness import py_schedule
    from job_crawler_spark.sources import synth

    robots = synth.robots_rows()
    hosts = ["boards.megajobs.example", "listings.agency.example",
             "java-jobs.example", checks.DENY_ALL_HOST]
    rows = [(f"https://{h}/jobs/{i}", h, (i % 4) / 4.0) for h in hosts for i in range(8)]
    round_seconds = 20  # budgets: megajobs 20, agency 4, java-jobs 20
    sched = [
        (0, r["host"], r["host_rank"], r["url_canon"])
        for r in py_schedule(
            [{"url_canon": u, "host": h, "priority": p} for u, h, p in rows],
            robots, round_seconds,
        )
    ]
    urls = {s[3] for s in sched}
    n = len(sched)
    return checks.CrawlState(
        round_seconds=round_seconds,
        robots=robots,
        checkpoints={0: {"round": 0, "scheduled": n, "fetched": n, "failed": 0}},
        sched=sched,
        crawl_log={0: (n, n, 0)},
        seen=[(u, 0) for u in sorted(urls)],
        frontier=[u for u, _, _ in rows if u not in urls],
        docs_count=n,
        pinned_frontiers={0: rows},
    )


def _failing(st: checks.CrawlState) -> set[str]:
    return {name for name, err in checks.check_crawl(st).items() if err}


def test_clean_state_passes_every_check():
    assert _failing(_state()) == set()


def test_duplicated_seen_row_fails():
    st = _state()
    st.seen.append(st.seen[0])
    assert "seen_unique" in _failing(st)


def test_swapped_host_rank_fails():
    st = _state()
    agency = [i for i, r in enumerate(st.sched) if r[1] == "listings.agency.example"]
    a, b = agency[0], agency[1]
    (ra, ha, ka, ua), (rb, hb, kb, ub) = st.sched[a], st.sched[b]
    st.sched[a], st.sched[b] = (ra, ha, kb, ua), (rb, hb, ka, ub)
    assert "crawl_order_matches_oracle" in _failing(st)


def test_over_budget_host_fails():
    st = _state()
    extra = next(u for u in st.frontier if "listings.agency.example" in u)
    st.sched.append((0, "listings.agency.example", 5, extra))
    assert "host_budget" in _failing(st)


def test_deny_all_host_scheduled_fails():
    st = _state()
    st.sched.append((0, checks.DENY_ALL_HOST, 1, f"https://{checks.DENY_ALL_HOST}/jobs/0"))
    assert "deny_all_never_scheduled" in _failing(st)
