"""The four workloads, each driven through the engine's public entry points.

A workload has four parts:

* ``prepare()``: generate seeded inputs and the correctness oracle
  (cached, untimed);
* ``view(spark)``: build the input view every operation reads (the
  latest-capture view of a page table, or the edge table), repeated
  during set-up;
* ``op(spark, tracer)``: one operation of the closed loop (the first
  ``warm_ops`` of a session are the untimed warm-up); returns its raw
  result;
* ``check(result)``: the untimed output check of that result, an
  ``Outcome`` with the items completed and the problems found;
* ``layer_calls(spark)`` (crawls, linkgraph) and ``kernel_rate()`` (page
  workloads): extra per-layer figures for the traced run.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import inputs, oracles

KEYWORDS = ("sensor", "valve", "precision", "calibrate")


@dataclass
class Outcome:
    items: int
    problems: list[str]
    info: dict = field(default_factory=dict)


def _snapshot_bytes(checkpoint_dir: str) -> int:
    """Bytes of the per-wave state tables a resume reads. The wave stats
    table and the manifest carry timings, so their size is not exact."""
    files = glob.glob(os.path.join(checkpoint_dir, "wave=*", "*.parquet", "*.parquet"))
    return sum(os.path.getsize(f) for f in files
               if os.path.basename(os.path.dirname(f)) != "stats.parquet")


def kernel_pages_per_core_s(site: str, n: int = 500) -> float:
    """Single-process ``kernel.extract.extract_page`` rate over a fixed
    sample: the first ``n`` captures of the site by url."""
    from crawl4ai_custom_spark.kernel.extract import extract_page

    rows = sorted(oracles.read_rows(os.path.join(site, "pages.parquet"),
                                    ["url", "html"]), key=lambda r: r["url"])[:n]
    t0 = time.perf_counter()
    for r in rows:
        extract_page(r["url"], r["html"])
    return len(rows) / (time.perf_counter() - t0)


class Workload:
    name = ""
    item = ""               # what items_per_s counts
    latest_view = True      # view() builds a latest-capture view
    warm_ops = 1            # untimed operations at the end of set-up

    def __init__(self, cache: str, work: str, seed: int, tiny: bool):
        self.cache, self.work, self.seed, self.tiny = cache, work, seed, tiny
        self._n_ops = 0

    def _fresh(self, name: str) -> str:
        p = os.path.join(self.work, name)
        shutil.rmtree(p, ignore_errors=True)
        return p


# ---- extract ---------------------------------------------------------------

class Extract(Workload):
    """Full-surface re-extraction of a stored corpus: ``extract_pages``
    (every CrawlResult column) written out, then ``links_table`` over it."""

    name, item = "extract", "pages"
    warm_ops = 2

    def prepare(self) -> None:
        self.site = inputs.page_site(self.cache, self.seed,
                                     60 if self.tiny else 1000, 12, True)
        self.oracle = oracles.latest_texts(self.site)

    def view(self, spark) -> None:
        from crawl4ai_custom_spark.sources.pages import load_latest_pages

        latest = self._fresh("latest")
        load_latest_pages(spark, self.site).select("url", "html") \
            .write.parquet(latest)
        self.pages = spark.read.parquet(latest)

    def op(self, spark, tracer):
        from crawl4ai_custom_spark.operators.extraction import (
            extract_pages,
            links_table,
        )

        out = self._fresh("out")
        with tracer.span("extraction.extract_pages"):
            extract_pages(self.pages).write.parquet(out)
        with tracer.span("extraction.links_table"):
            n_edges = links_table(spark.read.parquet(out)).count()
        return out, n_edges

    def check(self, result) -> Outcome:
        out, n_edges = result
        t = pq.read_table(out, columns=["url", "text", "links", "extract_ms"])
        rows = [{"url": u, "text": x, "n_links": n} for u, x, n in zip(
            t["url"].to_pylist(), t["text"].to_pylist(),
            pc.list_value_length(t["links"]).fill_null(0).to_pylist())]
        ms = t["extract_ms"].to_pylist()
        return Outcome(len(rows), oracles.check_extract(rows, self.oracle, n_edges),
                       {"extract_ms": ms})

    def kernel_rate(self) -> float:
        return kernel_pages_per_core_s(self.site, 30 if self.tiny else 500)


# ---- crawls ------------------------------------------------------------------

class _Crawl(Workload):
    item = "pages"
    site_pages = 400

    def config(self):
        raise NotImplementedError

    def problems(self, got: dict) -> list[str]:
        raise NotImplementedError

    def prepare(self) -> None:
        self.site = inputs.page_site(self.cache, self.seed,
                                     80 if self.tiny else self.site_pages, 12,
                                     False)
        self.seeds = sorted(r["url"] for r in oracles.read_rows(
            os.path.join(self.site, "seeds.parquet"), ["url"]))

    def view(self, spark) -> None:
        from crawl4ai_custom_spark.sources.pages import load_latest_pages

        web = self._fresh("web")
        load_latest_pages(spark, self.site).write.parquet(web)
        self.web = spark.read.parquet(web)
        self.robots = spark.read.parquet(os.path.join(self.site, "robots.parquet"))

    def op(self, spark, tracer):
        from crawl4ai_custom_spark.operators.frontier import FrontierEngine

        # keep the previous crawl's files until this one replaces them: the
        # traced run reads the last crawl's snapshot and deltas
        i = self._n_ops % 2
        self._n_ops += 1
        ckpt, out = self._fresh(f"ckpt{i}"), self._fresh(f"out{i}")
        with tracer.span("frontier.run"):
            run = FrontierEngine(spark, self.web, self.robots, self.config(),
                                 checkpoint_dir=ckpt, out_dir=out).run(self.seeds)
        self.last = run
        return run

    def check(self, run) -> Outcome:
        got = oracles.crawl_outputs(run.results_dir, run.checkpoint_dir)
        return Outcome(run.pages_crawled, self.problems(got),
                       {"extract_ms": got["extract_ms"], "stats": run.stats})

    def layer_calls(self, spark) -> tuple[dict[str, float], list[str]]:
        """Direct calls into the politeness, robots, seen and state layers
        on the last crawl's own snapshot and discovery-delta inputs;
        median of three calls each. Nothing to check."""
        from pyspark.sql import functions as F

        from crawl4ai_custom_spark.operators.politeness import admit
        from crawl4ai_custom_spark.operators.robots import robots_mark
        from crawl4ai_custom_spark.operators.seen import (
            PartitionedBloom,
            filter_unseen_exact,
        )
        from crawl4ai_custom_spark.state.checkpoint import CheckpointStore

        run, cfg = self.last, self.config()
        store = CheckpointStore(spark, run.checkpoint_dir)
        snap = store.read(0)
        delta = spark.read.parquet(os.path.join(
            run.results_dir, "wave=00000", "new_links.parquet")).drop("robots_allowed")
        seen = spark.read.parquet(os.path.join(
            run.checkpoint_dir, "_state", "seeds_all")).select("url_hash")

        def bloom_add():
            PartitionedBloom(spark, cfg.bloom_partitions, cfg.bloom_capacity,
                             state_dir=self._fresh("bloom")).add(delta.select("url_hash"))

        def resume():
            s = store.read(store.latest_wave())
            s["frontier"].count()
            s["host_state"].count()

        calls = {
            "politeness.admit_s": lambda: admit(
                snap["frontier"], snap["host_state"], cfg.politeness,
                cfg.max_pages).count(),
            "robots.mark_s": lambda: robots_mark(delta, self.robots)
            .where(F.col("robots_allowed")).count(),
            "seen.bloom_add_s": bloom_add,
            "seen.filter_unseen_exact_s": lambda: filter_unseen_exact(delta, seen).count(),
            "state.resume_s": resume,
        }
        out = {}
        for name, fn in calls.items():
            ts = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn()
                ts.append(time.perf_counter() - t0)
            out[name] = statistics.median(ts)
        out["state.snapshot_bytes_per_page"] = (
            _snapshot_bytes(run.checkpoint_dir) / max(1, run.pages_crawled))
        return out, []

    def kernel_rate(self) -> float:
        return kernel_pages_per_core_s(self.site, 30 if self.tiny else 500)


class CrawlBfs(_Crawl):
    """Depth-3 BFS from the seed list, robots gating and bloom on, with a
    budget that covers everything."""

    name = "crawl_bfs"
    max_depth = 3

    def config(self):
        from crawl4ai_custom_spark.operators.frontier import CrawlConfig
        from crawl4ai_custom_spark.operators.politeness import PolitenessConfig

        return CrawlConfig(
            strategy="bfs", max_depth=self.max_depth, max_pages=100_000,
            politeness=PolitenessConfig(wave_seconds=1e9),
            use_bloom=True, bloom_partitions=8)

    def prepare(self) -> None:
        super().prepare()
        self.oracle = oracles.bfs_oracle(self.site, self.seeds, self.max_depth, 100_000)

    def problems(self, got: dict) -> list[str]:
        return oracles.check_bfs(got, self.oracle)


class CrawlBestFirst(_Crawl):
    """Keyword-scored best-first crawl: a fixed batch per wave under a
    page budget, so per-wave fixed cost dominates."""

    name = "crawl_best_first"

    @property
    def batch(self) -> int:
        return 8 if self.tiny else 32

    @property
    def budget(self) -> int:
        return 24 if self.tiny else 160

    def config(self):
        from crawl4ai_custom_spark.operators.frontier import CrawlConfig
        from crawl4ai_custom_spark.operators.politeness import PolitenessConfig

        return CrawlConfig(
            strategy="best_first", max_depth=3, batch_size=self.batch,
            max_pages=self.budget, keywords=KEYWORDS,
            politeness=PolitenessConfig(wave_seconds=1e9),
            use_bloom=True, bloom_partitions=8)

    def prepare(self) -> None:
        super().prepare()
        self.allowed = oracles.robots_allows(self.site)
        self.digest_path = os.path.join(
            self.site, f"best_first_digest-b{self.batch}-p{self.budget}")

    def problems(self, got: dict) -> list[str]:
        return oracles.check_best_first(got, self.allowed, self.batch,
                                        self.budget, self.digest_path)


# ---- linkgraph -----------------------------------------------------------------

class Linkgraph(Workload):
    """3-iteration pagerank over a seeded power-law graph above the
    engine's 200k-edge driver-twin gate. Coreness over the same graph runs
    in the traced run only: its distributed h-index loop (about ten
    rounds, 15 s on 4 cores) does not fit the timed loop's budget."""

    name, item = "linkgraph", "edges"
    latest_view = False
    warm_ops = 2

    def prepare(self) -> None:
        self.graph = inputs.graph(self.cache, self.seed,
                                  400 if self.tiny else 42_000, 5)
        self.oracle = oracles.linkgraph_oracle(self.graph)
        self.n_edges = pq.read_metadata(
            os.path.join(self.graph, "edges.parquet")).num_rows

    def view(self, spark) -> None:
        self.edges = spark.read.parquet(os.path.join(self.graph, "edges.parquet"))
        self.edges.count()

    def op(self, spark, tracer):
        from crawl4ai_custom_spark.operators.linkgraph import pagerank

        with tracer.span("linkgraph.pagerank"):
            return pagerank(self.edges, iterations=3).toPandas()

    def check(self, ranks) -> Outcome:
        return Outcome(self.n_edges, oracles.check_pagerank(ranks, self.oracle))

    def layer_calls(self, spark) -> tuple[dict[str, float], list[str]]:
        """Coreness over the graph (one call, checked against the peeling
        oracle) and the Exchange nodes (shuffle and broadcast) in
        pagerank's planned physical plan: the shuffles its steps pay."""
        from crawl4ai_custom_spark.operators.linkgraph import coreness, pagerank

        t0 = time.perf_counter()
        cores = coreness(self.edges).toPandas()
        coreness_s = time.perf_counter() - t0
        plan = pagerank(self.edges, iterations=3)._jdf.queryExecution() \
            .executedPlan().toString()
        return ({"linkgraph.coreness_s": coreness_s,
                 "linkgraph.pagerank_exchanges":
                     sum("Exchange" in line for line in plan.splitlines())},
                oracles.check_coreness(cores, self.oracle))


WORKLOADS = {w.name: w for w in (Extract, CrawlBfs, CrawlBestFirst, Linkgraph)}
