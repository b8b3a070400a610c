#!/usr/bin/env python3
"""Crawl benchmark for supercrawler_spark.

    python3 perfbench/run.py --workload scan|bfs|polite --seed N \
        --seconds S --trace 0|1

Run from the repository root. One closed-loop client runs one crawl job at
a time through the public ``supercrawler_spark.crawler.crawl()`` API on
``local[nproc]``: after a warm-up, as many whole crawls as fit in
``--seconds`` (at least one), and checks every crawl against the golden
texts or the single-threaded oracle. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer metrics (from one traced crawl, direct
kernel calls, the CrawlStore manifest and Spark's status store). The metric
names and units are read from BENCHMARK.json at the repository root; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. See
perfbench/README.md for the workloads and what each metric should move.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import replace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# warm-up crawls run until this long has passed (at least one crawl). The
# first crawls after a JVM start keep getting faster for about half a
# minute of crawling, with the JIT and with the host's scheduling delay
# (steal time), which fell from 9-14% to under 1% over that time
WARMUP_S = 25


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["scan", "bfs", "polite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def prepare_environment() -> int:
    """Keep every file Spark, the JVM and Python write inside WORK, and let
    Spark's Python workers import the package from the repository root
    whatever the working directory. Returns the core count."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # the launcher JVM behind spark-submit: no /tmp/hsperfdata, tmp inside
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={tmp}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    return len(os.sched_getaffinity(0))


def metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


class Run:
    def __init__(self, workload_name: str, seed: int, cores: int):
        from perfbench import workloads as wl
        self.wl = wl
        self.workload = wl.WORKLOADS[workload_name]
        self.seed = seed
        self.cores = cores
        self.spark = None
        self.n_crawls = 0

    # -- inputs (outside every timed window) -----------------------------

    def make_inputs(self) -> None:
        wl, cache = self.wl, os.path.join(WORK, "corpus")
        self.inputs = wl.ensure_inputs(
            cache, wl.CORPUS_PAGES, self.seed, self.cores,
            goldens=self.workload.every_page_seeds)
        self.seeds = self.inputs.seed_urls(self.workload, self.seed)
        self.seeds_path = self._write_seeds(self.seeds)
        self.oracle, self.oracle_s = None, None
        if not self.workload.every_page_seeds:
            t = time.perf_counter()
            self.oracle = wl.run_oracle(self.inputs, self.workload,
                                        self.seeds)
            self.oracle_s = time.perf_counter() - t

    def _write_seeds(self, urls: list[str]) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq
        path = os.path.join(self.inputs.corpus_dir,
                            f"seeds_{self.workload.name}.parquet")
        pq.write_table(pa.table({"url": urls,
                                 "seed_order": list(range(len(urls)))}),
                       path)
        return path

    # -- set-up: session start + table load + warm-up crawls ---------------

    def setup(self) -> dict:
        from supercrawler_spark.session import get_spark
        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", cores=self.cores,
            extra_conf={
                "spark.driver.memory": "1g",
                "spark.ui.showConsoleProgress": "false",
                # the whole heap is resident from the start: otherwise the
                # JVM's share of peak_rss_mb follows how far G1 had grown
                # the heap by then, which varied by ~15% between runs
                "spark.driver.extraJavaOptions":
                    os.environ["SPARK_LAUNCHER_OPTS"]
                    + " -Xms1g -XX:+AlwaysPreTouch",
            })
        start_s = time.perf_counter() - t
        t = time.perf_counter()
        corpus = self.inputs.corpus_dir
        self.tables = {
            "pages": self.spark.read.parquet(os.path.join(corpus, "pages")),
            "robots": self.spark.read.parquet(
                os.path.join(corpus, "robots.parquet")),
            "seeds": self.spark.read.parquet(self.seeds_path)}
        # warm-up: unchecked crawls of every seed at depth <= 1, so an
        # expanding and a final round are compiled before timing
        warm = replace(self.workload, config=replace(
            self.workload.config,
            crawl_depth=min(1, self.workload.config.crawl_depth)))
        t_warm = time.perf_counter()
        while True:
            if not self.crawl(warm, check=False)["ok"]:
                raise RuntimeError("warm-up crawl failed")
            if time.perf_counter() - t_warm >= WARMUP_S:
                break
        warm_s = time.perf_counter() - t  # table load + warm-up crawls
        return {"session.start_s": start_s, "session.warmup_s": warm_s,
                "setup_s": start_s + warm_s}

    # -- one crawl job -------------------------------------------------------

    def crawl(self, workload, check=True, group=None, commit_timer=None,
              keep_store=False) -> dict:
        """Run one crawl and (when ``check``) verify its outputs. Returns a
        record with wall/first-round times, counts and the manifest. The
        store is deleted afterwards unless ``keep_store``."""
        from supercrawler_spark.crawler import crawl
        from supercrawler_spark.store import CrawlStore
        store_dir = os.path.join(WORK, "stores", f"crawl{self.n_crawls}")
        shutil.rmtree(store_dir, ignore_errors=True)
        self.n_crawls += 1
        sc = self.spark.sparkContext
        if group is not None:
            sc.setJobGroup(group, group)
        tables = self.tables
        rec = {"ok": False, "store_dir": store_dir}
        t0 = time.time()
        try:
            with commit_timer or contextlib.nullcontext():
                crawl(self.spark, tables["pages"],
                      tables["seeds"],
                      workload.config, store_dir=store_dir,
                      robots=(tables["robots"] if workload.with_robots
                              else None))
            store = CrawlStore(store_dir)
            manifest = store.read_manifest()
            # the crawl ends when mark_done() rewrites the manifest
            t_end = os.stat(os.path.join(store_dir,
                                         CrawlStore.MANIFEST)).st_mtime
            counts = self.wl.crawl_counts(manifest)
            processed = counts.get("processed", 0)
            rec.update(t0=t0, t_end=t_end, wall=t_end - t0,
                       first_round_s=manifest["rounds"][0]["committed_at"]
                       - t0,
                       counts=counts, manifest=manifest,
                       urls_per_s=processed / (t_end - t0))
            problems = []
            if check:
                problems = self.wl.check_crawl(workload, self.inputs,
                                               self.oracle, store, counts)
            for p in problems:
                print(f"CHECK FAILED ({workload.name}): {p}",
                      file=sys.stderr)
            rec["ok"] = not problems
            print(f"crawl {self.n_crawls - 1}: {workload.name} "
                  f"wall={rec['wall']:.3f}s rounds={len(manifest['rounds'])} "
                  f"processed={processed} first_round={rec['first_round_s']:.3f}s"
                  f" {'ok' if rec['ok'] else 'FAILED CHECK'}")
        except Exception:  # a failed crawl is counted, the loop goes on
            traceback.print_exc()
        finally:
            if group is not None:
                sc.setJobGroup("perfbench-idle", "perfbench-idle")
            if not keep_store:
                shutil.rmtree(store_dir, ignore_errors=True)
        return rec

    # -- timed closed loop -----------------------------------------------------

    def timed(self, seconds: float) -> dict:
        """Closed loop of whole crawl jobs inside ``seconds`` (at least
        one): another crawl starts only if one of the mean length so far
        still ends inside the window. So the number of crawls a run
        measures does not flip with the host's speed of the moment when a
        crawl ends near the window's end. Times and memory are medians over
        the crawls; memory is each crawl's peak process-tree PSS."""
        from perfbench.probes import RssSampler
        rss = RssSampler().start()
        recs, peaks = [], []
        t = time.monotonic()
        try:
            while True:
                recs.append(self.crawl(self.workload))
                peaks.append(rss.take())
                elapsed = time.monotonic() - t
                if elapsed + elapsed / len(recs) > seconds:
                    break
        finally:
            rss.stop()
        ok = [r for r in recs if r["ok"]]
        self.attempted, self.failed = len(recs), len(recs) - len(ok)
        m = {"peak_rss_mb": statistics.median(peaks)}
        if ok:
            m["urls_per_s"] = statistics.median(r["urls_per_s"] for r in ok)
            m["first_round_s"] = statistics.median(r["first_round_s"]
                                                   for r in ok)
        return m

    # -- traced run ---------------------------------------------------------------

    def traced(self, setup: dict) -> dict:
        """One traced crawl (job group + store-commit timing), in the same
        position as the first timed crawl, then direct kernel calls."""
        from perfbench import probes
        tracer = probes.Tracer(f"{self.workload.name}-seed{self.seed}")
        root = tracer.add("workload", time.time(), 0.0, None,
                          workload=self.workload.name, seed=self.seed)
        timer = probes.StoreCommitTimer()
        rec = self.crawl(self.workload, group="traced", commit_timer=timer,
                         keep_store=True)
        self.attempted, self.failed = 1, int(not rec["ok"])
        if self.failed:
            shutil.rmtree(rec["store_dir"], ignore_errors=True)
            return {}
        crawl_id = tracer.add("crawl", rec["t0"], rec["t_end"], root,
                              urls_per_s=rec["urls_per_s"])
        m = {"session.start_s": setup["session.start_s"],
             "session.warmup_s": setup["session.warmup_s"],
             # the traced run's end-to-end results: their difference to the
             # untraced runs' urls_per_s / first_round_s is the overhead
             "trace.urls_per_s": rec["urls_per_s"],
             "trace.first_round_s": rec["first_round_s"]}
        m.update(probes.crawler_metrics(rec["manifest"], rec["t0"],
                                        rec["counts"]))
        m.update(probes.store_metrics(rec["store_dir"], timer.total_s()))
        sm, jobs = probes.spark_metrics(self.spark.sparkContext, "traced",
                                        rec["t0"], rec["t_end"],
                                        m["crawler.rounds"], self.cores)
        m.update(sm)
        tracer.crawl_spans(crawl_id, rec["manifest"], jobs, timer.spans,
                           rec["t0"])
        self.ratios = {
            "crawler.dedup_ratio": probes.ratio_or_missing(
                m["crawler.deduped"], m["crawler.candidates"]),
            "bloom.definite_new_ratio": probes.ratio_or_missing(
                m["bloom.definite_new"], m["crawler.candidates"])
            if self.workload.config.seen_bloom else None}

        # direct kernel calls on the html pages this crawl fetched
        docs = self.wl.crawl_docs(rec["manifest"])
        shutil.rmtree(rec["store_dir"], ignore_errors=True)
        html_urls = sorted(u for u in docs
                           if "text/html" in self.inputs.bodies[u][1])
        pages = [(u, self.inputs.bodies[u][0].encode("utf-8"))
                 for u in html_urls]
        t = time.time()
        kernel, links = probes.refspec_probe(pages)
        tracer.add("refspec.extract_page_fields", t, t + kernel.pop("_wall"),
                   root, pages=len(pages))
        m.update(kernel)
        t = time.time()
        m.update(probes.urls_probe(links, len(pages)))
        tracer.add("urls.canonicalize_url", t, time.time(), root,
                   links=len(links))
        m["udfs.extract_pages_per_s"] = self._udf_probe(html_urls, tracer,
                                                        root)
        m["udfs.parallel_eff"] = m["udfs.extract_pages_per_s"] / (
            self.cores * m["refspec.pages_per_s"])
        if self.oracle is not None:
            m["oracle.urls_per_s"] = self.oracle.processed_count / self.oracle_s
        else:
            # scan: the oracle of a depth-0 crawl is the extraction of every
            # page; time the single-threaded golden rebuild of all of them
            t = time.perf_counter()
            self.wl.run_oracle(self.inputs, self.workload, self.seeds)
            m["oracle.urls_per_s"] = (rec["counts"]["processed"]
                                      / (time.perf_counter() - t))
        tracer.spans[root]["end"] = time.time()
        tracer.write(os.path.join(
            WORK, "traces", f"{self.workload.name}-seed{self.seed}.json"))
        return m

    def _udf_probe(self, html_urls: list[str], tracer, root) -> float:
        """Pages/s of a noop-sink Spark job applying the extract_page Arrow
        UDF to the same pages (second of two runs; the first warms)."""
        from pyspark.sql import functions as F
        from supercrawler_spark.functions import udfs
        sp = self.spark
        want = sp.createDataFrame([(u,) for u in html_urls], "url string")
        job = (self.tables["pages"]
               .join(F.broadcast(want), "url", "left_semi")
               .select(udfs.extract_page("url", "html").alias("page")))
        sp.sparkContext.setJobGroup("udfs-probe", "udfs-probe")
        try:
            for _ in range(2):
                t = time.time()
                job.write.format("noop").mode("overwrite").save()
                dt = time.time() - t
        finally:
            sp.sparkContext.setJobGroup("perfbench-idle", "perfbench-idle")
        tracer.add("udfs.extract_page", t, t + dt, root,
                   pages=len(html_urls))
        return len(html_urls) / dt

    # -- teardown ---------------------------------------------------------------

    def stop(self) -> None:
        """Stop Spark, then close the gateway JVM's stdin (it exits on EOF)
        and wait for it; Python workers end with the JVM."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway = sc._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            self.spark = None


def emit(metrics: dict, specs: dict, run: Run) -> int:
    out = {}
    for name, unit in specs.items():
        value = metrics.get(name)
        out[name] = {"value": value, "unit": unit}
        shown = "missing" if value is None else f"{value:.6g} {unit}"
        print(f"{name:32s} {shown}")
    extra = set(metrics) - set(specs)
    if extra:
        raise RuntimeError(f"metrics not named in BENCHMARK.json: {extra}")
    correct = run.failed == 0 and all(v["value"] is not None
                                      for k, v in out.items()
                                      if not k.startswith("spark."))
    print(f"{'error_rate':32s} {run.failed / run.attempted:.6g} "
          f"({run.failed} of {run.attempted} crawl jobs failed)")
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": out}))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "supercrawler_spark")):
        print(f"no supercrawler_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    cores = prepare_environment()
    e2e_specs, layer_specs = metric_specs()
    run = Run(args.workload, args.seed, cores)
    run.make_inputs()
    try:
        setup = run.setup()
        if args.trace:
            metrics = run.traced(setup)
            specs = layer_specs
        else:
            metrics = run.timed(args.seconds)
            metrics["setup_s"] = setup["setup_s"]
            specs = e2e_specs
    finally:
        run.stop()
    print(f"workload={args.workload} seed={args.seed} cores={cores} "
          f"pages={run.wl.CORPUS_PAGES} seeds={len(run.seeds)} "
          f"crawls={run.attempted}")
    if args.trace and not run.failed:
        for name, value in run.ratios.items():
            print(f"{name:32s} "
                  f"{'missing' if value is None else f'{value:.6g} ratio'}")
    return emit(metrics, specs, run)


if __name__ == "__main__":
    sys.exit(main())
