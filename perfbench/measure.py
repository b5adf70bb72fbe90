"""The measured process of one benchmark run.

A fresh process with one Spark session at local[nproc] (shuffle partitions
= nproc). It runs the workload's set-up and warm-up, stamps host health,
runs the timed window, then checks the outputs against the cached
reference; a traced run also reads per-layer counters and runs the probes.
run.py starts it after prep.py has cached the seed's inputs:

    python3 perfbench/measure.py --workload crawl_narrow --seed 7 \
        --seconds 13 --trace 0 --t0 <epoch s> --run-dir <dir> --out <json>

``--t0`` is when run.py started this process, so ``setup_s`` runs from
process start to the first timed call.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import arith  # noqa: E402
import layers  # noqa: E402
import spec  # noqa: E402

sys.path.insert(0, spec.ROOT)

perf = time.perf_counter
HEAP = "2g"  # Spark driver JVM heap


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe_s(make_df) -> float:
    """Wall of one materialization (noop write) of ``make_df()``, after one
    untimed warming materialization."""
    _noop(make_df())
    t = perf()
    _noop(make_df())
    return perf() - t


class Run:
    def __init__(self, a, sampler: layers.PssSampler):
        self.a = a
        self.sampler = sampler
        self.w = spec.WORKLOADS[a.workload]
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = layers.Tracer() if a.trace else None
        self.ops: list[dict] = []  # every timed-or-warm-up call, in order
        self.diag: dict = {"nproc": self.nproc}
        self.layer: dict = {k: 0.0 for k in spec.PER_LAYER}
        self.setup_end = None

    # ---- shared ----------------------------------------------------------

    def start_spark(self):
        from sparkcrawl.session import get_spark

        tmp = os.path.join(self.a.run_dir, "tmp")
        t = perf()
        self.spark = get_spark(
            f"perfbench-{self.a.workload}", cores=self.nproc,
            shuffle_partitions=self.nproc,
            extra_conf={
                # A fixed, pre-touched heap. The JVM otherwise grows and
                # touches its heap lazily, so peak PSS depended on GC timing:
                # 4.2-5.2 GB across identical runs at the 8g default, and
                # 2.4 or 3.0 GB at a 2g cap. Pre-touched, it reads within
                # ~1%, for ~1 s more set-up and no slower rounds.
                "spark.driver.memory": HEAP,
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                    f"-Xms{HEAP} -XX:+AlwaysPreTouch",
                "spark.sql.warehouse.dir":
                    os.path.join(self.a.run_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.layer["session.start_s"] = perf() - t
        # engine counters per round; a bulk pass runs no engine round
        self.stats = (layers.SparkStats(self.spark)
                      if self.tracer and self.w["kind"] == "crawl" else None)

    def end_setup(self) -> None:
        self.setup_end = time.time()
        with self.sampler.paused():
            self.diag["host_before"] = layers.host_stamp()

    def end_window(self) -> None:
        self.diag["peak_pss_samples"] = self.sampler.n_samples
        self.peak_pss_mb = self.sampler.stop()
        self.diag["host_after"] = after = layers.host_stamp()
        s0, t0 = self.diag["host_before"]["cpu_ticks"]
        s1, t1 = after["cpu_ticks"]
        self.diag["window_steal_share"] = (s1 - s0) / max(1, t1 - t0)

    def timed(self, op_id: int, fn):
        """Run one operation; record its wall and, when traced, its span,
        job range and the counters of those jobs."""
        rec = dict(op=op_id, ok=False)
        self.ops.append(rec)
        if self.stats:
            lo = self.stats.next_job_id()
        if self.tracer:
            self.tracer.current_op = op_id
        t0 = perf()
        try:
            out = fn()
            rec["ok"] = True
            return out
        finally:
            t1 = perf()
            rec["wall"] = t1 - t0
            if self.tracer:
                self.tracer.current_op = None
                self.tracer.add("op", t0, t1, None, op=op_id)
                rec["span"] = (t0, t1)
            if self.stats:
                hi = self.stats.next_job_id()
                jobs = arith.attribute_jobs(
                    [(op_id, lo, hi)], self.stats.retained_job_ids())[op_id]
                rec["spark"] = self.stats.counters(jobs)

    def window(self) -> list[dict]:
        return arith.timed_window(self.ops, self.w["warmup"])

    def e2e(self, n_items: int) -> dict:
        walls = [o["wall"] for o in self.window()]
        p50, n = arith.median_with_count(walls)
        self.diag["op_p50_samples"] = n
        self.diag["window_walls_s"] = walls
        return {
            "urls_per_s": arith.rate(n_items, walls),
            "op_p50_s": p50,
            "setup_s": self.setup_end - self.a.t0,
            "peak_pss_mb": self.peak_pss_mb,
        }

    # ---- crawl_narrow ----------------------------------------------------

    def crawl(self) -> dict:
        from sparkcrawl import schema as S
        from sparkcrawl.engine import CrawlConfig, CrawlEngine
        from sparkcrawl.filters import FilterConfig
        from sparkcrawl.tables import SnapshotStore

        a, spark = self.a, self.spark
        web = spec.web_dir(a.seed)
        pages, meta, robots_df, seeds = (
            spark.read.schema(sch).parquet(os.path.join(web, f"{n}.parquet"))
            for n, sch in (("pages", S.PAGES), ("page_meta", S.PAGE_META),
                           ("robots", S.ROBOTS), ("seeds", S.SEEDS))
        )
        with open(os.path.join(web, "banned_hosts.json")) as f:
            banned = tuple(json.load(f))
        root = os.path.join(a.run_dir, "store")
        if self.tracer:
            store = layers.traced_store_class()(root, self.tracer)
        else:
            store = SnapshotStore(root)
        cfg = CrawlConfig(filters=FilterConfig(banned_hosts=banned))
        t = perf()
        eng = CrawlEngine(spark, store, pages, meta, robots_df, cfg)
        eng.init_frontier(seeds)
        self.layer["engine.init_s"] = perf() - t
        if self.tracer:
            bloom = eng.bloom()
            bloom.add_hashes_df = self.tracer.wrap(
                "seen.add_hashes_df", bloom.add_hashes_df)
            bloom.save = self.tracer.wrap("seen.save", bloom.save)

        inner = eng.run_round

        def run_round(r):
            out = self.timed(r, lambda: inner(r))
            self.ops[-1]["n_selected"] = out["n_selected"]
            return out
        eng.run_round = run_round

        n_rounds = spec.total_rounds(a.workload, a.seconds)
        win_start = None
        new_dirs: dict[int, int] = {}
        for r in range(1, n_rounds + 1):
            before = layers.data_dirs(root) if self.tracer else None
            n_ops = len(self.ops)
            try:
                eng.run(None, max_rounds=r)
            except Exception:  # noqa: BLE001 — a raising round is a failed op
                traceback.print_exc()
                break
            if len(self.ops) == n_ops:
                break  # quiescent: no round ran
            if self.tracer:
                new_dirs[r] = sum(layers.dir_bytes(d)
                                  for d in layers.data_dirs(root) - before)
            if r == self.w["warmup"]:
                self.end_setup()
                if self.tracer:
                    win_start = self._window_start_frames(store, eng)
        self.end_window()

        failed = self._crawl_gate(store)
        metrics = self.e2e(sum(o.get("n_selected", 0) for o in self.window()))
        store_mb = layers.dir_bytes(root) / 1e6
        self.diag["store_mb"] = store_mb
        if self.tracer:
            self._crawl_layers(store, eng, win_start, new_dirs, store_mb)
            self._probe_extract(pages)
        return dict(metrics=metrics, failed=failed)

    def _crawl_gate(self, store) -> int:
        """Committed trace, seen set and crawled text must equal the
        oracle's over the same round budget. Returns the failed-op count:
        a raising round, a round whose trace or crawled rows differ, and
        the last round when the seen set or the round count differs."""
        from sparkcrawl import schema as S

        with open(spec.oracle_path(self.a.seed, spec.total_rounds(
                self.a.workload, self.a.seconds))) as f:
            ref = json.load(f)
        spark = self.spark
        bad = {o["op"] for o in self.ops if not o["ok"]}
        got_trace: dict[int, list] = {}
        for row in store.read(spark, "trace", S.TRACE).collect():
            got_trace.setdefault(row["round"], []).append(
                [row["round"], row["ord"], row["url_norm"], row["host"],
                 row["action"]])
        want_trace: dict[int, list] = {}
        for t in ref["trace"]:
            want_trace.setdefault(t[0], []).append(t)
        got_crawled: dict[int, dict] = {}
        for row in store.read(spark, "crawled", S.CRAWLED).collect():
            got_crawled.setdefault(row["round"], {})[row["url_norm"]] = \
                row["text"]
        want_crawled: dict[int, dict] = {}
        for u, (r, text) in ref["crawled"].items():
            want_crawled.setdefault(r, {})[u] = text
        ran = [o["op"] for o in self.ops]
        for r in ran:
            if (sorted(got_trace.get(r, [])) != sorted(want_trace.get(r, []))
                    or got_crawled.get(r, {}) != want_crawled.get(r, {})):
                bad.add(r)
        seen = {row["url_norm"]
                for row in store.read(spark, "seen", S.SEEN).collect()}
        if seen != set(ref["seen"]) or len(ran) != ref["rounds"]:
            bad.add(ran[-1] if ran else 0)
        self.diag["gate"] = dict(rounds=len(ran), ref_rounds=ref["rounds"],
                                 trace_rows=sum(map(len, got_trace.values())),
                                 seen=len(seen), failed_ops=sorted(bad))
        return len(bad)

    def _window_start_frames(self, store, eng) -> dict:
        """Frontier, clock and priority as the window starts — the
        politeness probe's input (store dirs are immutable, so these lazy
        reads keep seeing this snapshot)."""
        from sparkcrawl import schema as S

        spark = self.spark
        f = store.read(spark, "frontier", S.FRONTIER)
        if store.exists("frontier_consumed"):
            f = f.join(store.read(spark, "frontier_consumed",
                                  S.FRONTIER_CONSUMED), "url_norm", "left_anti")
        return dict(
            frontier=f, n_frontier=int(store.meta.get("n_frontier", 0)),
            clock=store.read(spark, "host_clock", S.HOST_CLOCK),
            priority=store.read(spark, "host_priority",
                                "host string, priority int"),
            round=store.committed_round + 1,
            host_rules=eng.host_rules, cfg=eng.cfg,
        )

    def _crawl_layers(self, store, eng, ws, new_dirs, store_mb) -> None:
        """Per-round means over the window of the Spark counters, the span
        times and the committed metrics ratios; then the probes."""
        from pyspark.sql import functions as F

        from sparkcrawl import schema as S

        L, spark, tr = self.layer, self.spark, self.tracer
        win = self.window()
        n = len(win)
        tot: dict[str, float] = {}
        for o in win:
            for k, v in o["spark"].items():
                tot[k] = tot.get(k, 0) + v
        L["engine.jobs_per_round"] = tot["jobs"] / n
        L["engine.stages_per_round"] = tot["stages"] / n
        L["engine.tasks_per_round"] = tot["tasks"] / n
        L["engine.python_stages_per_round"] = tot["python_stages"] / n
        L["engine.cpu_s_per_round"] = tot["cpu_s"] / n
        L["engine.shuffle_mb_per_round"] = tot["shuffle_bytes"] / 1e6 / n
        L["engine.spill_mb_per_round"] = tot["spill_bytes"] / 1e6 / n
        L["engine.failed_tasks"] = tot["failed_tasks"]
        self_s = calls = busy = commit = add = save = 0.0
        for o in win:
            r, span = o["op"], o["span"]
            kids = tr.children(r, "tables.") + tr.children(r, "seen.")
            self_s += (span[1] - span[0]) - arith.union_length(
                [(k["start"], k["end"]) for k in kids], clip=span)
            stages = tr.children(r, "tables.stage_")
            calls += len(stages)
            busy += arith.union_length(
                [(k["start"], k["end"]) for k in stages])
            commit += sum(k["end"] - k["start"]
                          for k in tr.children(r, "tables.commit"))
            add += sum(k["end"] - k["start"]
                       for k in tr.children(r, "seen.add_hashes_df"))
            save += sum(k["end"] - k["start"]
                        for k in tr.children(r, "seen.save"))
        L["engine.self_s_per_round"] = self_s / n
        L["tables.stage_calls_per_round"] = calls / n
        L["tables.stage_busy_s_per_round"] = busy / n
        L["tables.commit_s_per_round"] = commit / n
        L["tables.mb_written_per_round"] = (
            sum(new_dirs[o["op"]] for o in win) / 1e6 / n)
        L["tables.store_mb"] = store_mb
        L["seen.add_s_per_round"] = add / n
        L["seen.save_s_per_round"] = save / n

        rounds = [o["op"] for o in win]
        m = (store.read(spark, "metrics", S.METRICS)
             .filter(F.col("round").isin(rounds))
             .agg(*(F.sum(c).alias(c) for c in
                    ("n_links", "n_admitted", "n_fetched", "n_extracted")))
             .collect()[0])
        L["seen.admit_ratio"] = m["n_admitted"] / m["n_links"]
        L["extract.useful_ratio"] = m["n_extracted"] / m["n_fetched"]
        self._crawl_probes(store, eng, ws, rounds)

    def _crawl_probes(self, store, eng, ws, rounds) -> None:
        """urlnorm, seen and politeness probes over the window's own pages,
        links and start frontier."""
        from pyspark.sql import functions as F

        from sparkcrawl import politeness, robots
        from sparkcrawl import schema as S
        from sparkcrawl.extract import with_extracted
        from sparkcrawl.filters import admission_predicate
        from sparkcrawl.seen import anti_join_seen
        from sparkcrawl.urlnorm import canonicalize_udf, with_url_parts

        L, spark = self.layer, self.spark
        pages = spark.read.schema(S.PAGES).parquet(
            os.path.join(spec.web_dir(self.a.seed), "pages.parquet"))
        crawled = (store.read(spark, "crawled", S.CRAWLED)
                   .filter(F.col("round").isin(rounds)).select("url_norm"))
        hrefs = (
            with_extracted(
                pages.select(F.col("url").alias("url_norm"), "html")
                .join(crawled, "url_norm", "left_semi"))
            .select(F.col("url_norm").alias("base_url"),
                    F.posexplode("ex_links").alias("link_idx", "href"))
            .localCheckpoint()
        )
        n_hrefs = hrefs.count()

        def canon():
            c = hrefs.withColumn(
                "url_norm", canonicalize_udf(F.col("base_url"), F.col("href"))
            ).filter(F.col("url_norm").isNotNull())
            return with_url_parts(c).filter(
                admission_predicate(eng.cfg.filters))
        L["urlnorm.hrefs_per_s"] = n_hrefs / probe_s(canon)
        cand = canon().localCheckpoint()
        n_cand = cand.count()
        seen_end = store.read(spark, "seen", S.SEEN)
        L["seen.anti_join_rows_per_s"] = n_cand / probe_s(
            lambda: anti_join_seen(cand, seen_end, use_bloom=False))

        def select():
            hint = ws["n_frontier"] >= ws["cfg"].broadcast_min_frontier
            el = politeness.eligible_hosts_filter(
                ws["frontier"], ws["host_rules"], ws["clock"], ws["round"],
                hint_broadcast=hint)
            sel = politeness.select_per_host(
                el, ws["priority"], frontier_size=ws["n_frontier"] or None,
                hint_broadcast=hint)
            return robots.join_rules(sel, ws["host_rules"],
                                     hint_broadcast=hint)
        L["politeness.select_s"] = probe_s(select)
        self.diag["probe_rows"] = dict(hrefs=n_hrefs, candidates=n_cand,
                                       window_frontier=ws["n_frontier"])

    def _probe_extract(self, pages) -> None:
        from pyspark.sql import functions as F

        from sparkcrawl.extract import with_extracted

        n_pages = pages.count()

        def ex():
            p = pages.select(F.col("url").alias("url_norm"), "html")
            return with_extracted(p.repartition(self.nproc, "url_norm"))
        self.layer["extract.pages_per_s"] = n_pages / probe_s(ex)

    # ---- corpus_bulk -----------------------------------------------------

    def bulk(self) -> dict:
        """Admission, extraction, content dedup and the lang gate over every
        page of the web: no frontier, no store writes."""
        from pyspark.sql import Window as W, functions as F

        from sparkcrawl import schema as S
        from sparkcrawl.extract import with_extracted
        from sparkcrawl.filters import admission_predicate
        from sparkcrawl.urlnorm import with_url_parts

        a, spark = self.a, self.spark
        with open(spec.bulk_ref_path(a.seed)) as f:
            ref = json.load(f)
        pages = spark.read.schema(S.PAGES).parquet(
            os.path.join(spec.web_dir(a.seed), "pages.parquet"))
        n_pages = pages.count()

        def one_pass():
            p = pages.select(F.col("url").alias("url_norm"), "html")
            # the fixture parquet has few row groups; spread extraction
            # over every core (url hash, skew-free)
            p = with_url_parts(p.repartition(self.nproc, "url_norm"))
            p = p.filter(admission_predicate())
            p = p.withColumn("content_hash", F.xxhash64("html"))
            e = with_extracted(p).drop("html")
            w = W.partitionBy("content_hash").orderBy("url_norm")
            d = e.withColumn("_rn", F.row_number().over(w)).filter(
                F.col("_rn") == 1)
            d = d.filter((F.col("ex_lang") == "") | (F.col("ex_lang") == "en"))
            row = d.select(F.count("*").alias("docs"),
                           F.sum(F.length("ex_text")).alias("chars")).collect()
            return row[0]["docs"], row[0]["chars"]

        want = (ref["docs"], ref["chars"])
        n_ops = self.w["warmup"] + spec.window_ops(a.workload, a.seconds)
        for i in range(1, n_ops + 1):
            try:
                got = self.timed(i, one_pass)
            except Exception:  # noqa: BLE001 — a raising pass is a failed op
                traceback.print_exc()
            else:
                if got != want or n_pages != ref["n_pages"]:
                    self.ops[-1]["ok"] = False
            if i == self.w["warmup"]:
                self.end_setup()
        self.end_window()
        bad = [o["op"] for o in self.ops if not o["ok"]]
        self.diag["gate"] = dict(docs=ref["docs"], chars=ref["chars"],
                                 n_pages=n_pages, failed_ops=bad)
        metrics = self.e2e(n_pages * len(self.window()))
        if self.tracer:
            self._probe_extract(pages)
        return dict(metrics=metrics, failed=len(bad))


def main() -> None:
    sampler = layers.PssSampler().start()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    run = Run(a, sampler)
    run.start_spark()
    try:
        if run.w["kind"] == "crawl":
            res = run.crawl()
        else:
            res = run.bulk()
    finally:
        run.spark.stop()
    metrics = res["metrics"]
    if a.trace:
        metrics = dict(run.layer)
        metrics["trace.urls_per_s"] = res["metrics"]["urls_per_s"]
    out = dict(attempted=len(run.ops), failed=res["failed"],
               metrics=metrics, diag=run.diag)
    if a.trace:
        os.makedirs(os.path.join(spec.WORK, "traces"), exist_ok=True)
        with open(os.path.join(spec.WORK, "traces",
                               f"{a.workload}-{a.seed}.jsonl"), "w") as f:
            for s in run.tracer.spans:
                f.write(json.dumps(s) + "\n")
    with open(a.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
