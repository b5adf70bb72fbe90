"""Workload definitions and the benchmark's on-disk layout.

Both workloads run over the same generated web: the ``t2`` profile of
``tests/gen_fixtures.py`` (1,000 hosts, a 15,000-page mega-host, 500 seeded
hosts), generated from the run's ``--seed``.
"""

from __future__ import annotations

import os

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# everything a run leaves behind lives here (ignored by git): the per-seed
# input/reference cache and one scratch dir per run, deleted when it ends
WORK = os.path.join(BENCH_DIR, ".work")
CACHE = os.path.join(WORK, "cache")

PROFILE = "t2"

# kind: "crawl" = closed loop of CrawlEngine rounds, one client; each round
#       starts when the previous commit returns.
# kind: "bulk"  = batch passes of the loop-free data plane.
# warmup: ops run before the window (counted in setup_s, never timed).
# op_s: nominal wall of one op on a 4-core host. It only sizes the window
#       from --seconds, so the window is a fixed set of ops for a given
#       --seconds on any host: a faster program finishes it sooner.
WORKLOADS = {
    "crawl_narrow": dict(kind="crawl", warmup=1, op_s=3.2, min_ops=3),
    "corpus_bulk": dict(kind="bulk", warmup=3, op_s=1.8, min_ops=4),
}


def window_ops(workload: str, seconds: float) -> int:
    w = WORKLOADS[workload]
    return max(w["min_ops"], round(seconds / w["op_s"]))


def total_rounds(workload: str, seconds: float) -> int:
    """Round budget of a crawl run: warm-up rounds + the window."""
    return WORKLOADS[workload]["warmup"] + window_ops(workload, seconds)


def web_dir(seed: int) -> str:
    return os.path.join(CACHE, f"web-{PROFILE}-{seed}")


def oracle_path(seed: int, rounds: int) -> str:
    return os.path.join(CACHE, f"oracle-{PROFILE}-{seed}-r{rounds}.json")


def bulk_ref_path(seed: int) -> str:
    return os.path.join(CACHE, f"bulkref-{PROFILE}-{seed}.json")


def untraced_path(workload: str, seed: int, seconds: float) -> str:
    """Untraced throughput of one (workload, seed, window): the base of the
    traced run's overhead ratio."""
    return os.path.join(
        CACHE, f"untraced-{workload}-{seed}-w{window_ops(workload, seconds)}.json"
    )


# metric name -> unit. BENCHMARK.json lists the same names (test_arith
# checks that); per-layer metrics of a layer a workload does not run are
# reported as 0 (see README.md for which applies where).
END_TO_END = {
    "urls_per_s": "1/s",
    "op_p50_s": "s",
    "setup_s": "s",
    "peak_pss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "engine.init_s": "s",
    "engine.jobs_per_round": "count",
    "engine.stages_per_round": "count",
    "engine.tasks_per_round": "count",
    "engine.python_stages_per_round": "count",
    "engine.cpu_s_per_round": "s",
    "engine.shuffle_mb_per_round": "MB",
    "engine.spill_mb_per_round": "MB",
    "engine.failed_tasks": "count",
    "engine.self_s_per_round": "s",
    "tables.stage_calls_per_round": "count",
    "tables.stage_busy_s_per_round": "s",
    "tables.commit_s_per_round": "s",
    "tables.mb_written_per_round": "MB",
    "tables.store_mb": "MB",
    "seen.add_s_per_round": "s",
    "seen.save_s_per_round": "s",
    "seen.admit_ratio": "ratio",
    "seen.anti_join_rows_per_s": "1/s",
    "extract.useful_ratio": "ratio",
    "extract.pages_per_s": "1/s",
    "urlnorm.hrefs_per_s": "1/s",
    "politeness.select_s": "s",
    "trace.urls_per_s": "1/s",
    "trace.overhead_ratio": "ratio",
}
