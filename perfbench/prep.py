"""Build and cache one seed's inputs and reference outputs.

    python3 perfbench/prep.py --workload crawl_narrow --seed 7 --seconds 13

* the web: ``tests/gen_fixtures.generate("t2", seed)`` written as parquet;
* crawl workloads: ``tests/oracle.run_oracle`` over the run's round budget,
  with the banned hosts the e2e tests use;
* ``corpus_bulk``: docs and chars totals of the bulk pass, computed in pure
  Python from the generator's golden text (``htmlspec.extract`` output).

Each entry is written to a temporary name and renamed into place, so an
interrupted prep leaves no half-written cache entry. Runs in its own
process, outside the measured one, so generation never counts as set-up.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spec  # noqa: E402

sys.path.insert(0, spec.ROOT)
sys.path.insert(0, os.path.join(spec.ROOT, "tests"))

_TABLES = ("pages", "page_meta", "robots", "seeds")
# ~50 MB each (+ ~10 MB of oracle output). Twelve cover a ten-seed set
# run workload by workload, so the second workload reuses every web,
# without the cache growing with each new seed
KEEP_WEBS = 12


def _prune_webs(keep: int) -> None:
    """Drop all but the ``keep`` most recently used webs, with their ~10 MB
    oracle outputs."""
    webs = sorted((os.path.join(spec.CACHE, d) for d in os.listdir(spec.CACHE)
                   if d.startswith("web-")), key=os.path.getmtime)
    for d in webs[:max(0, len(webs) - keep)]:
        shutil.rmtree(d, ignore_errors=True)
        seed = os.path.basename(d)[len(f"web-{spec.PROFILE}-"):]
        for f in glob.glob(os.path.join(
                spec.CACHE, f"oracle-{spec.PROFILE}-{seed}-r*.json")):
            os.remove(f)


def _write_json(path: str, obj) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def ensure_web(seed: int) -> dict | None:
    """Generate the web if it is not cached; return the fixtures when they
    were generated here (else None — load_fixtures reads them back)."""
    from gen_fixtures import generate, write_parquet

    out = spec.web_dir(seed)
    if os.path.exists(os.path.join(out, "_DONE")):
        os.utime(out)
        return None
    _prune_webs(keep=KEEP_WEBS - 1)
    fx = generate(spec.PROFILE, seed=seed)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_parquet(fx, tmp)
    _write_json(os.path.join(tmp, "banned_hosts.json"),
                list(fx["banned_hosts"]))
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return fx


def load_fixtures(seed: int) -> dict:
    import pyarrow.parquet as pq

    d = spec.web_dir(seed)
    fx = {t: pq.read_table(os.path.join(d, f"{t}.parquet")).to_pylist()
          for t in _TABLES}
    with open(os.path.join(d, "banned_hosts.json")) as f:
        fx["banned_hosts"] = tuple(json.load(f))
    return fx


def crawl_reference(fx: dict, rounds: int) -> dict:
    from oracle import run_oracle
    from sparkcrawl.filters import FilterConfig

    res = run_oracle(fx, max_rounds=rounds,
                     fcfg=FilterConfig(banned_hosts=fx["banned_hosts"]))
    return {
        "rounds": res.rounds,
        "trace": [list(t) for t in res.trace],
        "seen": sorted(res.seen),
        "crawled": {u: [r, text] for u, (r, text) in res.crawled.items()},
    }


def bulk_reference(fx: dict) -> dict:
    """The bulk pass in pure Python: admission (filters.admit over the
    urlnorm host/depth twins), content dedup by exact body bytes, and the
    <html lang> gate. The generator stores ``htmlspec.extract``'s text and
    ``lang or "en"``, which passes the gate exactly when the extracted lang
    is "" or "en"."""
    from sparkcrawl.filters import FilterConfig, admit
    from sparkcrawl.urlnorm import depth_of, host_of

    cfg = FilterConfig()
    first: dict[bytes, dict] = {}
    for p in fx["pages"]:
        u = p["url"]
        if not admit(u, host_of(u), depth_of(u), cfg):
            continue
        first.setdefault(p["html"], p)
    kept = [p for p in first.values() if p["lang"] in ("", cfg.lang_prefix)]
    return {"n_pages": len(fx["pages"]), "docs": len(kept),
            "chars": sum(len(p["text"]) for p in kept)}


def prepare(workload: str, seed: int, seconds: float) -> None:
    os.makedirs(spec.CACHE, exist_ok=True)
    fx = ensure_web(seed)
    if spec.WORKLOADS[workload]["kind"] == "crawl":
        rounds = spec.total_rounds(workload, seconds)
        path = spec.oracle_path(seed, rounds)
        def make(f): return crawl_reference(f, rounds)
    else:
        path, make = spec.bulk_ref_path(seed), bulk_reference
    if not os.path.exists(path):
        _write_json(path, make(fx or load_fixtures(seed)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args()
    prepare(a.workload, a.seed, a.seconds)


if __name__ == "__main__":
    main()
