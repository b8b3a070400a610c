"""Measurements taken from outside the engine: process-tree RSS from /proc,
Spark counters from the driver's AppStatusStore (py4j), crawler and store
figures from the CrawlStore manifest, direct single-process kernel calls,
and the in-memory span list of a traced run."""

from __future__ import annotations

import os
import statistics
import threading
import time

from supercrawler_spark import refspec
from supercrawler_spark.functions.urls import canonicalize_url
from supercrawler_spark.store import CrawlStore

PHASES = ("stats_collect", "fetch_extract_write", "recover_missing",
          "docs_write", "expand", "metrics_write", "seen_compact")


# ---------------------------------------------------------------------------
# Peak resident memory of this process and all its descendants
# ---------------------------------------------------------------------------


def tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and its descendants (the JVM and the
    Python workers), summed as PSS: a page shared between processes counts
    once in total, so the forked workers do not count their daemon's pages
    again each."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process-tree memory every 0.25 s on a background thread;
    take() returns the largest sample since start() or the last take(), in
    MB."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            self.peak = max(self.peak, rss)

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.INTERVAL_S):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def take(self) -> float:
        self._sample()
        with self._lock:
            peak, self.peak = self.peak, 0
        return peak / 2**20

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# Spark jobs of one job group, read from the AppStatusStore
# ---------------------------------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_jobs(sc, group: str) -> tuple[list[dict], dict] | None:
    """(jobs, summed stage counters) of ``group``, or None when the private
    status-store API is not reachable (the metrics are then missing)."""
    try:
        store = sc._jsc.sc().statusStore()
        jvm, gw = sc._jvm, sc._gateway
        jl = store.jobsList(jvm.java.util.ArrayList())
        jobs, stage_ids = [], set()
        for i in range(jl.size()):
            j = jl.apply(i)
            g = j.jobGroup()
            if not g.isDefined() or g.get() != group:
                continue
            ids = j.stageIds()
            jobs.append({"id": j.jobId(),
                         "submit": _opt_ms(j.submissionTime()),
                         "end": _opt_ms(j.completionTime()),
                         "tasks": j.numCompletedTasks()})
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        sl = store.stageList(jvm.java.util.ArrayList(), False, False,
                             gw.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList())
        sums = {"stages": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                "shuffle_write": 0, "shuffle_read": 0, "output": 0}
        for i in range(sl.size()):
            s = sl.apply(i)
            if s.stageId() not in stage_ids or s.numCompleteTasks() == 0:
                continue
            sums["stages"] += 1
            sums["run_ms"] += s.executorRunTime()
            sums["cpu_ns"] += s.executorCpuTime()
            sums["gc_ms"] += s.jvmGcTime()
            sums["shuffle_write"] += s.shuffleWriteBytes()
            sums["shuffle_read"] += s.shuffleReadBytes()
            sums["output"] += s.outputBytes()
    except Exception:  # py4j / private API moved: report missing, never 0
        return None
    jobs.sort(key=lambda j: j["id"])
    return jobs, sums


def covered_s(intervals: list[tuple[float, float]], lo: float,
              hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def spark_metrics(sc, group: str, t0: float, t_end: float, rounds: int,
                  cores: int) -> tuple[dict, list[dict]]:
    names = ("spark.jobs", "spark.jobs_per_round", "spark.stages",
             "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
             "spark.jvm_gc_s", "spark.shuffle_write_mb",
             "spark.shuffle_read_mb", "spark.output_mb", "spark.busy_frac",
             "spark.driver_gap_s")
    got = spark_jobs(sc, group)
    if got is None:
        return {n: None for n in names}, []
    jobs, s = got
    wall = t_end - t0
    run_s = s["run_ms"] / 1000.0
    spans = [(j["submit"], j["end"]) for j in jobs
             if j["submit"] is not None and j["end"] is not None]
    values = (len(jobs), len(jobs) / max(1, rounds), s["stages"],
              sum(j["tasks"] for j in jobs), run_s, s["cpu_ns"] / 1e9,
              s["gc_ms"] / 1000.0, s["shuffle_write"] / 2**20,
              s["shuffle_read"] / 2**20, s["output"] / 2**20,
              run_s / (wall * cores), wall - covered_s(spans, t0, t_end))
    return dict(zip(names, values)), jobs


# ---------------------------------------------------------------------------
# Crawler and store figures from the manifest
# ---------------------------------------------------------------------------


def crawler_metrics(manifest: dict, t0: float, counts: dict) -> dict:
    init = manifest["init"]
    ends = [init["committed_at"]] + [e["committed_at"]
                                     for e in manifest["rounds"]]
    round_s = [b - a for a, b in zip(ends, ends[1:])]
    m = {"crawler.rounds": len(manifest["rounds"]),
         "crawler.init_s": init["committed_at"] - t0,
         "crawler.round_s_p50": statistics.median(round_s),
         "crawler.round_s_max": max(round_s)}
    for p in PHASES:
        m[f"crawler.{p}_s"] = sum(e.get("timings", {}).get(p, 0.0)
                                  for e in manifest["rounds"])
    for c in ("processed", "fetched", "failed", "deferred", "robots_blocked",
              "candidates", "deduped", "frontier_added"):
        m[f"crawler.{c}"] = counts.get(c, 0)
    m["crawler.defer_ratio"] = counts.get("deferred", 0) / max(
        1, counts.get("processed", 0) + counts.get("deferred", 0))
    m["bloom.definite_new"] = counts.get("bloom_definite_new", 0)
    return m


def ratio_or_missing(num: int, den: int):
    return num / den if den else None


def store_metrics(root: str, commit_s: float) -> dict:
    size, files = 0, 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return {"store.commit_s": commit_s, "store.bytes_mb": size / 2**20,
            "store.files": files,
            "store.manifest_kb": os.path.getsize(
                os.path.join(root, CrawlStore.MANIFEST)) / 1024}


class StoreCommitTimer:
    """Times every manifest commit of the CrawlStore during a traced crawl
    by wrapping its public commit methods in this process only."""

    METHODS = ("init_config", "commit_init", "commit_round", "mark_done")

    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []
        self._orig: dict = {}

    def __enter__(self) -> "StoreCommitTimer":
        for name in self.METHODS:
            orig = getattr(CrawlStore, name)
            self._orig[name] = orig

            def timed(store, *a, _orig=orig, _name=name, **kw):
                t = time.time()
                try:
                    return _orig(store, *a, **kw)
                finally:
                    self.spans.append((_name, t, time.time()))
            setattr(CrawlStore, name, timed)
        return self

    def __exit__(self, *exc) -> None:
        for name, orig in self._orig.items():
            setattr(CrawlStore, name, orig)

    def total_s(self) -> float:
        return sum(b - a for _, a, b in self.spans)


# ---------------------------------------------------------------------------
# Direct single-process kernel calls
# ---------------------------------------------------------------------------


def refspec_probe(pages: list[tuple[str, bytes]]) -> tuple[dict, list]:
    """extract_page_fields over (url, html bytes) pages, one call each.
    Returns the metrics and every extracted link."""
    per_page, links, nbytes = [], [], 0
    t_all = time.perf_counter()
    for url, raw in pages:
        html = raw.decode("utf-8", errors="replace")
        t = time.perf_counter_ns()
        _, page_links = refspec.extract_page_fields(html, url)
        per_page.append((time.perf_counter_ns() - t) / 1000.0)
        links.extend(page_links)
        nbytes += len(raw)
    wall = time.perf_counter() - t_all
    kernel_s = sum(per_page) / 1e6
    q = statistics.quantiles(per_page, n=100)
    return {"refspec.pages_per_s": len(pages) / kernel_s,
            "refspec.page_us_p50": statistics.median(per_page),
            "refspec.page_us_p99": q[98],
            "refspec.html_mb_per_s": nbytes / 2**20 / kernel_s,
            "_wall": wall}, links


def urls_probe(links: list[str], n_pages: int) -> dict:
    t = time.perf_counter()
    for link in links:
        canonicalize_url(link)
    dt = time.perf_counter() - t
    return {"urls.canonicalize_per_s": len(links) / dt if dt else None,
            "urls.links_per_page": len(links) / max(1, n_pages)}


# ---------------------------------------------------------------------------
# Spans of a traced run, kept in memory and written once at the end
# ---------------------------------------------------------------------------


class Tracer:
    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"trace": self.trace_id, "id": sid,
                           "parent": parent, "name": name, "start": start,
                           "end": end, "attrs": attrs})
        return sid

    def crawl_spans(self, crawl_id: int, manifest: dict, jobs: list[dict],
                    commits: list[tuple[str, float, float]],
                    t0: float) -> None:
        """Rounds from the manifest's commit times and phase timings,
        Spark jobs and store commits parented to the round holding them."""
        init = manifest["init"]
        iid = self.add("crawler.init", t0, init["committed_at"], crawl_id)
        windows = [(iid, t0, init["committed_at"])]
        t = init["committed_at"] - sum(init.get("timings", {}).values())
        for phase, dur in init.get("timings", {}).items():
            self.add(f"crawler.init.{phase}", t, t + dur, iid)
            t += dur
        prev = init["committed_at"]
        for e in manifest["rounds"]:
            rid = self.add(f"crawler.round[{e['round']}]", prev,
                           e["committed_at"], crawl_id, **e["counts"])
            t = prev
            for phase, dur in e.get("timings", {}).items():
                self.add(f"crawler.{phase}", t, t + dur, rid)
                t += dur
            windows.append((rid, prev, e["committed_at"]))
            prev = e["committed_at"]

        def parent_of(ts: float) -> int:
            for sid, a, b in windows:
                if a <= ts <= b:
                    return sid
            return crawl_id
        for j in jobs:
            if j["submit"] is not None and j["end"] is not None:
                self.add(f"spark.job[{j['id']}]", j["submit"], j["end"],
                         parent_of(j["submit"]), tasks=j["tasks"])
        for name, a, b in commits:
            self.add(f"store.{name}", a, b, parent_of(a))

    def write(self, path: str) -> None:
        import json
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, "spans": self.spans}, f)
