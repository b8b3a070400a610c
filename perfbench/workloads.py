"""Workload definitions, generated inputs and the per-crawl output checks.

Every input is generated from the workload seed (``--seed``) with the
repository's own generator (``sources.synth.generate_corpus``) and cached on
disk by size, seed and ``GENERATOR_VERSION``. The engine only ever receives
the parquet tables; the benchmark reads the same tables back for the golden
texts and the page bodies of the single-threaded oracle that the crawl
outputs are checked against.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import pyarrow.parquet as pq

from supercrawler_spark.crawler import CrawlConfig
from supercrawler_spark.oracle import oracle_bfs
from supercrawler_spark.sources import synth

# Pages in the generated corpus; the generator maps sf -> 500 * sf / 0.001.
# Small, so that a `scan` run times several crawls and the gated runs fit
# the benchmark's time budget; a crawl's wall is mostly per-job latency
CORPUS_PAGES = 1000


@dataclass(frozen=True)
class Workload:
    name: str
    seed_share: float        # share of pages that seed the crawl (1 = scan)
    config: CrawlConfig
    with_robots: bool = False

    @property
    def every_page_seeds(self) -> bool:
        return self.seed_share >= 1


WORKLOADS = {
    # one round: fetch-join + Arrow extract + docs commit, no expand
    "scan": Workload("scan", 1.0, CrawlConfig(crawl_depth=0)),
    # default-config BFS (depth 2, three rounds) from 5% of pages
    "bfs": Workload("bfs", 0.05, CrawlConfig()),
    # a depth-1 BFS with robots, a 500 ms crawl-delay on the hot host and
    # the Bloom seen prefilter, from 30% of pages: two rounds. The 240 s
    # round budget lets each (host, salt) window fetch 60 rows a round,
    # more than this corpus puts in one, so no row is deferred: a budget
    # that defers adds rounds whose count changes with the corpus seed at
    # this size, and a crawl long enough to make it steady leaves one
    # crawl per timed run
    "polite": Workload("polite", 0.30,
                       CrawlConfig(crawl_depth=1, politeness=True,
                                   seen_bloom=True, round_budget_ms=240_000),
                       with_robots=True),
}


def _hash(seed: int, *parts) -> int:
    payload = "|".join(str(p) for p in (seed,) + parts).encode()
    return int.from_bytes(hashlib.md5(payload).digest()[:8], "big")


@dataclass
class Inputs:
    """One generated corpus: parquet tables on disk plus what the checks
    need (golden texts, page bodies for the oracle, robots rules)."""
    corpus_dir: str
    urls: list[str]
    golden: dict[str, str]         # url -> golden MDX (html/pdf pages)
    bodies: dict[str, tuple]       # url -> (body, content_type), oracle input
    robots: list[dict]

    def seed_urls(self, workload: Workload, seed: int) -> list[str]:
        """Seed list in request order. `scan` seeds every page; the BFS
        workloads seed a fixed count of pages picked by a seeded hash, so
        the seed count does not vary with the seed."""
        ranked = sorted(self.urls, key=lambda u: _hash(seed, "seed", u))
        if workload.every_page_seeds:
            return ranked
        return ranked[:max(5, round(workload.seed_share * len(self.urls)))]


def ensure_inputs(cache_root: str, n_pages: int, seed: int, workers: int,
                  goldens: bool) -> Inputs:
    """Generate (or reuse) the corpus for (n_pages, seed). Generation runs
    in at most ``workers`` processes, before anything is timed. Golden
    texts are only needed where no oracle run replaces them (`scan`)."""
    key = f"v{synth.GENERATOR_VERSION}_n{n_pages}_seed{seed}_g{int(goldens)}"
    out = os.path.join(cache_root, key)
    if not os.path.exists(os.path.join(out, "manifest.json")):
        corpus = synth.generate_corpus(n_pages / 500_000, seed=seed,
                                       with_goldens=goldens,
                                       workers=max(1, workers))
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        synth.write_corpus(corpus, tmp)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return load_inputs(out)


def load_inputs(corpus_dir: str) -> Inputs:
    t = pq.read_table(os.path.join(corpus_dir, "pages"),
                      columns=["url", "html", "text", "content_type"])
    cols = t.to_pydict()
    urls, golden, bodies = [], {}, {}
    for url, html, text, ctype in zip(cols["url"], cols["html"],
                                      cols["text"], cols["content_type"]):
        urls.append(url)
        bodies[url] = (html.decode("utf-8"), ctype)
        if ("text/html" in ctype or "application/pdf" in ctype) \
                and text.strip():
            golden[url] = text
    rb = pq.read_table(os.path.join(corpus_dir, "robots.parquet")).to_pylist()
    return Inputs(corpus_dir, sorted(urls), golden, bodies, rb)


def run_oracle(inputs: Inputs, workload: Workload, seeds: list[str]):
    cfg = workload.config
    return oracle_bfs(inputs.bodies, seeds, crawl_depth=cfg.crawl_depth,
                      strip_tracking=cfg.strip_tracking,
                      robots=inputs.robots if workload.with_robots else None)


# ---------------------------------------------------------------------------
# Reading a finished crawl back from its CrawlStore (manifest + parquet)
# ---------------------------------------------------------------------------


def _read(path: str, columns: list[str]) -> dict:
    return pq.read_table(path, columns=columns).to_pydict()


def crawl_counts(manifest: dict) -> dict:
    """Summed per-partition counters of every committed round."""
    totals: dict[str, int] = {}
    for entry in manifest["rounds"]:
        tbl = pq.read_table(entry["paths"]["metrics"])
        for name in tbl.column_names:
            if name in ("stage", "partition_id", "round"):
                continue
            s = sum(v for v in tbl.column(name).to_pylist() if v is not None)
            totals[name] = totals.get(name, 0) + int(s)
    return totals


def crawl_docs(manifest: dict) -> dict[str, str]:
    docs: dict[str, str] = {}
    for entry in manifest["rounds"]:
        d = _read(entry["paths"]["docs"], ["url", "mdx"])
        docs.update(zip(d["url"], d["mdx"]))
    return docs


def crawl_seen(store, manifest: dict) -> set[str]:
    last = manifest["rounds"][-1]["round"] if manifest["rounds"] else -1
    seen: set[str] = set()
    for path in store.seen_paths_up_to(last):
        seen.update(_read(path, ["url"])["url"])
    return seen


def crawl_frontiers(manifest: dict) -> list[list[str]]:
    """Frontier url lists in seq order: the seed frontier, then each
    expanding round's next frontier."""
    paths = [manifest["init"]["paths"]["frontier"]]
    paths += [e["paths"]["frontier_next"] for e in manifest["rounds"]
              if "frontier_next" in e["paths"]]
    out = []
    for p in paths:
        d = _read(p, ["url", "seq"])
        out.append([u for _, u in sorted(zip(d["seq"], d["url"]))])
    return out


def check_crawl(workload: Workload, inputs: Inputs, oracle, store,
                counts: dict) -> list[str]:
    """Problems found in one finished crawl; empty when it is correct."""
    manifest = store.read_manifest()
    problems: list[str] = []
    if not manifest.get("done"):
        problems.append("crawl not marked done")
    docs = crawl_docs(manifest)
    if workload.name == "scan":
        if counts.get("processed") != len(inputs.urls):
            problems.append(f"processed {counts.get('processed')} != "
                            f"{len(inputs.urls)} pages")
        if docs.keys() != inputs.golden.keys():
            problems.append(f"{len(docs.keys() ^ inputs.golden.keys())} "
                            "doc urls differ from the golden set")
        bad = sum(1 for u, m in docs.items() if inputs.golden.get(u) != m)
        if bad:
            problems.append(f"{bad} docs differ from the golden text")
        return problems

    if counts.get("processed") != oracle.processed_count:
        problems.append(f"processed {counts.get('processed')} != oracle "
                        f"{oracle.processed_count}")
    if crawl_seen(store, manifest) != oracle.seen:
        problems.append("seen set differs from the oracle")
    want_docs = {u: m for u, _, m in oracle.docs}
    if docs != want_docs:
        problems.append(f"docs differ from the oracle "
                        f"({len(docs)} vs {len(want_docs)})")
    if workload.with_robots:
        blocked = sum(m["robots_blocked"]
                      for m in oracle.metrics_by_depth.values())
        if counts.get("robots_blocked", 0) != blocked:
            problems.append(f"robots_blocked {counts.get('robots_blocked')}"
                            f" != oracle {blocked}")
    else:
        want = [oracle.frontier_by_depth[d]
                for d in sorted(oracle.frontier_by_depth)]
        if crawl_frontiers(manifest) != want:
            problems.append("per-depth frontier order differs from the "
                            "oracle")
    return problems
