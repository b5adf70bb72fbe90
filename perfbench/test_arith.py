"""Tests of the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench/test_arith.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import arith  # noqa: E402
import spec  # noqa: E402


def test_warmup_rounds_are_excluded_from_the_window():
    ops = [dict(op=1, wall=8.3), dict(op=2, wall=4.6), dict(op=3, wall=3.4),
           dict(op=4, wall=3.5)]
    win = arith.timed_window(ops, n_warmup=1)
    assert [o["op"] for o in win] == [2, 3, 4]
    # the slow first round moves neither the rate nor the median
    walls = [o["wall"] for o in win]
    assert arith.rate(1000 + 1100 + 1000, walls) == pytest.approx(3100 / 11.5)
    assert arith.median_with_count(walls) == (3.5, 3)
    assert arith.timed_window(ops, 0) == ops
    with pytest.raises(ValueError):
        arith.timed_window(ops, -1)


def test_median_is_reported_with_its_sample_count():
    assert arith.median_with_count([3.0, 1.0, 2.0]) == (2.0, 3)
    assert arith.median_with_count([4.0, 1.0, 2.0, 3.0]) == (2.5, 4)
    with pytest.raises(ValueError):
        arith.median_with_count([])


def test_rate_needs_wall_time():
    with pytest.raises(ValueError):
        arith.rate(10, [])


def test_job_ids_are_attributed_to_the_round_that_ran_them():
    # round 2 ran jobs 10..14 (including its write-pool jobs), then a
    # frontier compaction ran job 15 between rounds, then round 3 ran 16..17
    bounds = [(2, 10, 15), (3, 16, 18)]
    got = arith.attribute_jobs(bounds, list(range(8, 20)))
    assert got == {2: [10, 11, 12, 13, 14], 3: [16, 17]}
    # a job evicted from the status store is simply absent
    assert arith.attribute_jobs(bounds, [10, 12, 17]) == {2: [10, 12], 3: [17]}
    # an empty range (a round that ran no job) owns nothing
    assert arith.attribute_jobs([(4, 20, 20)], [19, 20]) == {4: []}


def test_overlapping_or_reversed_job_ranges_are_rejected():
    with pytest.raises(ValueError):
        arith.attribute_jobs([(2, 10, 15), (3, 14, 18)], [14])
    with pytest.raises(ValueError):
        arith.attribute_jobs([(2, 15, 10)], [12])


def test_pss_tree_sum_covers_root_and_all_descendants_only():
    # 100 = driver python -> 200 = JVM -> 300 = python daemon -> 301, 302
    # workers; 900 is an unrelated process; 400's parent is gone
    ppid = {100: 1, 200: 100, 300: 200, 301: 300, 302: 300, 900: 1, 400: 555}
    pss = {100: 50_000, 200: 3_000_000, 300: 20_000, 301: 40_000,
           302: 41_000, 900: 7_000_000, 400: 5}
    assert arith.tree_pids(100, ppid) == {100, 200, 300, 301, 302}
    assert arith.tree_pss_kb(100, ppid, pss) == 3_151_000
    # a worker that exited between listing and reading counts as 0
    del pss[302]
    assert arith.tree_pss_kb(100, ppid, pss) == 3_110_000
    assert arith.tree_pss_kb(300, ppid, pss) == 60_000


def test_proc_parsers():
    line = "4242 (java (x) y) S 4100 4242 4242 0 -1 4194560 123"
    assert arith.parse_stat_ppid(line) == 4100
    rollup = ("55d0-7ff [rollup]\nRss:   2048 kB\nPss:   1536 kB\n"
              "Pss_Anon:   1000 kB\n")
    assert arith.parse_pss_kb(rollup) == 1536
    with pytest.raises(ValueError):
        arith.parse_pss_kb("Rss: 1 kB\n")


def test_busy_time_of_overlapping_writes_is_their_union():
    # four concurrent stage writes: [0,2] [1,3] [1.5,2.5] overlap, [5,6] not
    calls = [(0.0, 2.0), (1.0, 3.0), (1.5, 2.5), (5.0, 6.0)]
    assert arith.union_length(calls) == pytest.approx(4.0)  # sum would be 6
    assert sum(e - s for s, e in calls) == pytest.approx(6.0)
    # clipped to the round's span
    assert arith.union_length(calls, clip=(1.0, 5.5)) == pytest.approx(2.5)
    assert arith.union_length([]) == 0.0
    assert arith.union_length([(2.0, 2.0)]) == 0.0


def test_window_is_an_op_count_set_by_seconds_alone():
    for w, cfg in spec.WORKLOADS.items():
        assert spec.window_ops(w, 1) == cfg["min_ops"]
        assert spec.window_ops(w, 600) == round(600 / cfg["op_s"])
    assert spec.total_rounds("crawl_narrow", 13) == (
        spec.WORKLOADS["crawl_narrow"]["warmup"]
        + spec.window_ops("crawl_narrow", 13))


def test_benchmark_json_names_the_metrics_the_runs_print():
    path = os.path.join(spec.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("BENCHMARK.json not present")
    with open(path) as f:
        b = json.load(f)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == spec.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == spec.PER_LAYER
    assert {w["name"] for w in b["workloads"]} == set(spec.WORKLOADS)
