"""Pure arithmetic of the benchmark: window selection, medians, job-range
attribution, interval unions and process-tree PSS sums.

Nothing here touches Spark or the file system, so test_arith.py checks it
directly.
"""

from __future__ import annotations

import statistics


def timed_window(ops: list[dict], n_warmup: int) -> list[dict]:
    """The operations that count: every op after the first ``n_warmup``.

    ``ops`` is in execution order; each op is a dict with at least ``wall``.
    Warm-up ops (JIT, codegen, Python-worker start, web cache fill) are
    part of set-up and never of the window.
    """
    if n_warmup < 0:
        raise ValueError("n_warmup must be >= 0")
    return list(ops[n_warmup:])


def rate(n_items: float, walls: list[float]) -> float:
    """Items per second over the summed wall of the timed calls."""
    total = sum(walls)
    if total <= 0:
        raise ValueError("timed window has no wall time")
    return n_items / total


def median_with_count(values: list[float]) -> tuple[float, int]:
    """(median, number of samples) — a median is never reported alone."""
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values), len(values)


def attribute_jobs(bounds: list[tuple[int, int, int]],
                   job_ids: list[int]) -> dict[int, list[int]]:
    """Assign Spark job ids to the operation that ran them.

    ``bounds`` holds ``(op_id, next_job_id_before, next_job_id_after)`` per
    call: job ids are dense and increase, so a call owns exactly the ids in
    ``[before, after)``. That includes jobs that the call submitted from its
    own thread pool. Ids outside every range (jobs run between calls) belong
    to no operation.
    """
    out: dict[int, list[int]] = {op: [] for op, _, _ in bounds}
    ranges = sorted((b, a, op) for op, b, a in bounds)
    for lo, hi, _ in ranges:
        if hi < lo:
            raise ValueError(f"job range [{lo}, {hi}) runs backwards")
    for (lo1, hi1, _), (lo2, _, _) in zip(ranges, ranges[1:]):
        if lo2 < hi1:
            raise ValueError("job ranges of two operations overlap")
    for jid in job_ids:
        for lo, hi, op in ranges:
            if lo <= jid < hi:
                out[op].append(jid)
                break
    return out


def union_length(intervals: list[tuple[float, float]],
                 clip: tuple[float, float] | None = None) -> float:
    """Length of the union of ``[start, end]`` intervals, optionally clipped
    to ``clip``. Overlapping calls (the engine's concurrent stage writes)
    count once: this is busy time, not summed call time."""
    spans = []
    for s, e in intervals:
        if clip is not None:
            s, e = max(s, clip[0]), min(e, clip[1])
        if e > s:
            spans.append((s, e))
    spans.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def tree_pids(root: int, ppid_of: dict[int, int]) -> set[int]:
    """``root`` and every descendant, from a pid -> parent-pid map."""
    children: dict[int, list[int]] = {}
    for pid, ppid in ppid_of.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        out.add(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_pss_kb(root: int, ppid_of: dict[int, int],
                pss_kb_of: dict[int, int]) -> int:
    """Summed PSS (kB) of ``root``'s process tree. Processes that exited
    between listing and reading (no PSS entry) count as 0."""
    return sum(pss_kb_of.get(p, 0) for p in tree_pids(root, ppid_of))


def parse_stat_ppid(stat_line: str) -> int:
    """Parent pid from a ``/proc/<pid>/stat`` line. The command name is in
    parentheses and may itself hold spaces or ')', so parse after the last
    ')'."""
    rest = stat_line[stat_line.rindex(")") + 2:].split()
    return int(rest[1])


def parse_pss_kb(smaps_rollup: str) -> int:
    """The ``Pss:`` line of ``/proc/<pid>/smaps_rollup``, in kB."""
    for line in smaps_rollup.splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1])
    raise ValueError("no Pss line")
