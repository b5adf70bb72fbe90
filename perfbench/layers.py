"""Observation helpers used by the measured process: process-tree PSS
sampling, the host-health stamp, spans around calls into the program's
layers, and Spark status-store counters per job range.

Spans and counters are recorded from the benchmark's side of each call
(wrappers and a SnapshotStore subclass); no program code changes.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import threading
import time

import arith
import spec


# ---- memory ---------------------------------------------------------------


def read_tree_pss_kb(root: int) -> int:
    ppid_of: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid_of[int(name)] = arith.parse_stat_ppid(f.read())
        except (OSError, ValueError):
            continue  # exited while listing
    pss: dict[int, int] = {}
    for pid in arith.tree_pids(root, ppid_of):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss[pid] = arith.parse_pss_kb(f.read())
        except (OSError, ValueError):
            continue
    return arith.tree_pss_kb(root, ppid_of, pss)


class PssSampler:
    """Samples the summed PSS of this process's tree (driver Python, JVM,
    Python workers) at a fixed interval and keeps the peak. PSS splits
    shared pages between the processes that map them, so forked workers
    are not counted once per process as RSS would count them."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.n_samples = 0
        self._lock = threading.Lock()  # sample() runs on two threads
        self._stop = threading.Event()
        self._paused = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "PssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        kb = read_tree_pss_kb(os.getpid())
        with self._lock:
            self.peak_kb = max(self.peak_kb, kb)
            self.n_samples += 1

    def _loop(self) -> None:
        while not self._stop.is_set():
            if not self._paused.is_set():
                self.sample()
            self._stop.wait(self.interval_s)

    @contextlib.contextmanager
    def paused(self):
        """Exclude a stretch (the host probe's own processes) from the
        peak; a sample is taken right before it."""
        self.sample()
        self._paused.set()
        try:
            yield
        finally:
            self._paused.clear()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak_kb / 1024.0


# ---- host-health stamp ----------------------------------------------------


def host_stamp() -> dict:
    """2-process memory bandwidth (bench/hostprobe.py), the 1-min load
    average and the CPU tick counters. Diagnostic only: this host's memory
    bandwidth swings by up to 15x on a minute scale, so a noisy run can be
    traced to the host."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # steal (8th field) and total CPU ticks: their deltas over the window
    # give the share of CPU time the hypervisor gave to other guests
    out = {"load1": os.getloadavg()[0], "cpu_ticks": [ticks[7], sum(ticks)]}
    try:
        sp = importlib.util.spec_from_file_location(
            "hostprobe", os.path.join(spec.ROOT, "bench", "hostprobe.py"))
        hp = importlib.util.module_from_spec(sp)
        sp.loader.exec_module(hp)
        out["mem_2t_gbps"] = hp.leg("mem", 2, 0.3) / 1e9
    except Exception as e:  # noqa: BLE001 — the stamp is best-effort evidence
        out["probe_err"] = repr(e)
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                continue
    return total


def data_dirs(store_root: str) -> set[str]:
    """Every ``data/<table>/<token>`` dir of a SnapshotStore root."""
    base = os.path.join(store_root, "data")
    out = set()
    if os.path.isdir(base):
        for t in os.listdir(base):
            td = os.path.join(base, t)
            if os.path.isdir(td):
                out.update(os.path.join(td, k) for k in os.listdir(td))
    return out


# ---- spans ----------------------------------------------------------------


class Tracer:
    """In-memory spans: (name, start, end, parent). The operation span's id
    is its round (or pass) number; calls made while an operation runs —
    from any thread, including the engine's write pool — take it as
    parent."""

    def __init__(self):
        self.spans: list[dict] = []
        self.current_op: int | None = None
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent, **kw) -> None:
        with self._lock:
            self.spans.append(dict(name=name, start=start, end=end,
                                   parent=parent, **kw))

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self.current_op
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, t0, time.perf_counter(), parent)

    def wrap(self, name: str, fn):
        def wrapped(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return wrapped

    def children(self, op: int, prefix: str) -> list[dict]:
        return [s for s in self.spans
                if s["parent"] == op and s["name"].startswith(prefix)]


def traced_store_class():
    """A SnapshotStore that records a ``tables.<method>`` span per call."""
    from sparkcrawl.tables import SnapshotStore

    class TracedStore(SnapshotStore):
        def __init__(self, root: str, tracer: Tracer):
            self.tracer = tracer
            super().__init__(root)

    for meth in ("stage_append", "stage_overwrite", "stage_drop",
                 "stage_append_rows", "commit", "abort"):
        def make(m):
            base = getattr(SnapshotStore, m)

            def call(self, *a, **kw):
                with self.tracer.span(f"tables.{m}"):
                    return base(self, *a, **kw)
            call.__name__ = m
            return call
        setattr(TracedStore, meth, make(meth))
    return TracedStore


# ---- Spark status store ---------------------------------------------------

# physical-plan node families that run Python workers (Arrow/pandas UDFs)
_PY_NODES = ("Python", "InPandas", "InArrow")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class SparkStats:
    """Job, stage and task counters read from Spark's own status store
    (no UI, no REST). Read after every operation: the store keeps only the
    last 1,000 jobs and stages by default."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def next_job_id(self) -> int:
        """Id the next submitted job will get, once every event already
        posted has reached the status store."""
        self._sc.listenerBus().waitUntilEmpty()
        return int(self._sc.dagScheduler().nextJobId())

    def _is_python(self, sid: int) -> bool:
        todo = [self._store.operationGraphForStage(sid).rootCluster()]
        while todo:
            c = todo.pop()
            if any(k in c.name() for k in _PY_NODES):
                return True
            todo.extend(_seq(c.childClusters()))
        return False

    def retained_job_ids(self) -> list[int]:
        return [j.jobId() for j in _seq(self._store.jobsList(None))]

    def counters(self, job_ids: list[int]) -> dict:
        """Totals over ``job_ids``; skipped stages (shuffle output reused)
        did no work and are not counted."""
        out = dict(jobs=0, stages=0, tasks=0, python_stages=0, cpu_s=0.0,
                   shuffle_bytes=0, spill_bytes=0, failed_tasks=0)
        seen_stages = set()
        for jid in job_ids:
            job = self._store.job(jid)
            out["jobs"] += 1
            for sid in _seq(job.stageIds()):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_bytes"] += (st.shuffleReadBytes()
                                         + st.shuffleWriteBytes())
                out["spill_bytes"] += st.diskBytesSpilled()
                # failed attempts of the last stage attempt, plus one per
                # earlier (retried) stage attempt
                out["failed_tasks"] += st.numFailedTasks() + st.attemptId()
                out["python_stages"] += self._is_python(sid)
        return out
