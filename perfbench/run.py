"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload crawl_narrow --seed 7 --seconds 13 --trace 0

Run from the repository root. Steps, each in its own process:

1. ``prep.py`` generates the seed's web and reference outputs, or finds
   them cached under ``perfbench/.work/cache`` (never part of set-up);
2. ``measure.py`` runs the workload in a fresh Spark process, with a fresh
   store, and checks its outputs;
3. a traced run (``--trace 1``) needs the untraced throughput of the same
   seed as the base of its overhead ratio, and measures it first when it
   is not cached.

Prints a diagnostic JSON line, then as the last line of stdout one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``. Exits
non-zero, printing no result, when the program under test is missing or a
step fails or overruns.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spec  # noqa: E402

# the program under test and the repo files the benchmark drives
REQUIRED = ("sparkcrawl/engine.py", "sparkcrawl/session.py",
            "tests/gen_fixtures.py", "tests/oracle.py", "bench/hostprobe.py")
BUDGET_S = 170  # every step of one invocation ends within this


class StepFailed(RuntimeError):
    pass


def _reap_group(pgid: int, timeout_s: float = 15) -> None:
    """Kill whatever is left of a step's process group (the JVM, Python
    workers) and wait until none of it is alive."""
    end = time.time() + timeout_s
    while time.time() < end:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    raise StepFailed(f"process group {pgid} survived SIGKILL")


def _step(cmd: list[str], deadline: float, env: dict | None = None) -> None:
    p = subprocess.Popen(cmd, env=env, start_new_session=True,
                         stdout=sys.stderr, stdin=subprocess.DEVNULL)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:  # also on SIGTERM (see main)
        _reap_group(p.pid)
        p.wait()
    if rc is None:
        raise StepFailed(f"{os.path.basename(cmd[1])} overran the time budget")
    if rc != 0:
        raise StepFailed(f"{os.path.basename(cmd[1])} exited {rc}")


def measure(a, trace: int, deadline: float) -> dict:
    run_dir = os.path.join(spec.WORK, f"run-{os.getpid()}-t{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    pp = os.environ.get("PYTHONPATH")
    tmp = os.path.join(run_dir, "tmp")
    env = dict(os.environ,
               PYTHONPATH=spec.ROOT + (os.pathsep + pp if pp else ""),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               TMPDIR=tmp,
               # spark-submit's command-building JVM: keep it out of /tmp
               SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    out = os.path.join(run_dir, "result.json")
    try:
        t0 = time.time()
        _step([sys.executable, os.path.join(spec.BENCH_DIR, "measure.py"),
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(trace),
               "--t0", repr(t0), "--run-dir", run_dir, "--out", out],
              deadline, env)
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if not trace and res["failed"] == 0:
        with open(spec.untraced_path(a.workload, a.seed, a.seconds), "w") as f:
            json.dump({"urls_per_s": res["metrics"]["urls_per_s"]}, f)
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still reaps its steps' process groups
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in REQUIRED
               if not os.path.isfile(os.path.join(spec.ROOT, p))]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        return 2
    deadline = time.time() + BUDGET_S
    os.makedirs(spec.CACHE, exist_ok=True)
    try:
        _step([sys.executable, os.path.join(spec.BENCH_DIR, "prep.py"),
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds)], deadline)
        base = None
        if a.trace:
            path = spec.untraced_path(a.workload, a.seed, a.seconds)
            if not os.path.exists(path):
                measure(a, 0, deadline)
            with open(path) as f:
                base = json.load(f)["urls_per_s"]
        res = measure(a, a.trace, deadline)
    except (StepFailed, OSError, KeyError, ValueError) as e:
        print(f"perfbench: {e!r}", file=sys.stderr)
        return 1
    metrics = res["metrics"]
    if a.trace:
        metrics["trace.overhead_ratio"] = metrics["trace.urls_per_s"] / base
    names = spec.PER_LAYER if a.trace else spec.END_TO_END
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "trace": a.trace, "diag": res["diag"]}))
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] >= 1,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
