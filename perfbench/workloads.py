"""The benchmark's workloads.

Each workload makes or finds its inputs (``prepare``, untimed), warms
the session with a pass of its own calls (``warm_up``, counted in
``setup_s``), runs its operation (``op``), checks every output against the
repository's own oracles (``check``, untimed), and, for the traced run,
makes its calls again with a span around each call into a layer (``trace``).

The traced run of each workload also traces the other workload's calls
(``companion``, a 2-epoch crawl of a few hosts or one headline pass), so
every per-layer metric is a measurement on both workloads and no per-layer
time reads a constant zero.  On the workload that does not make a call,
that call's figures come from the companion, not from the measured
operation.
"""
from __future__ import annotations

import hashlib
import json
import os
import pickle
import random
import statistics
import subprocess
import sys
import time

from kernels import KERNELS, crawl_kernels, page_kernels
from spans import QUANTITIES, self_time, sum_by_name

CRAWL_SPANS = (
    "crawl.engine.seed_crawl",
    "crawl.engine.run_epoch.e0",
    "crawl.engine.run_epoch.e1",
    "operators.extract.extract_from_urls",
    "images.ops.fetch_and_extract_images",
)
STORAGE = (
    ("tables.bytes_per_url", "B/url"),
    ("tables.files_per_epoch", "files"),
    ("crawl.fetch.ok_frac", "frac"),
    ("crawl.discovery.new_frac", "frac"),
)
KERNEL_SAMPLE = 200
# byte-identical copies of the sf0.1 testdata tables the headline queries read
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.1")
TABLES = ("lineitem", "orders", "documents", "embeddings")


def _table(name: str) -> str:
    return os.path.join(SF_DIR, f"{name}.parquet")


def query_names() -> list[str]:
    from bench import HEADLINE

    return list(HEADLINE)


def span_names() -> list[str]:
    return list(CRAWL_SPANS) + [f"queries.{q}" for q in query_names()]


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {f"{s}.{q}": u for s in span_names() for q, u in QUANTITIES}
    units.update({"op.self_s": "s", "op.trace_overhead_s": "s"})
    units.update({k: "us" for k in KERNELS})
    units["training.train.train_scraper_s"] = "s"
    units.update(dict(STORAGE))
    return units


def traced_run(wl, spark, tracer, outputs, tally) -> dict[str, float]:
    """Per-layer metrics: the workload's own calls traced, then its
    companion's calls.  The workload's own kernel figures win where both
    measure the same kernel."""
    measured = wl.trace(spark, tracer, outputs, tally)
    own = list(tracer.spans)
    other = wl.companion()
    other.prepare()
    companion = other.trace(spark, tracer, None, tally)
    out = {}
    for name in span_names():
        for q, v in sum_by_name(tracer.spans, name).items():
            out[f"{name}.{q}"] = v
    out["op.self_s"] = self_time(own[0], own)
    out["op.trace_overhead_s"] = wl.traced_wall(own) - wl.untraced_wall(outputs)
    out.update(companion)
    out.update(measured)
    return out


def _extraction_chunk(urls: list[str], web, plan) -> dict:
    """q45's extraction oracle, ``apply_plan_to_html(fetch(url))``, for a
    chunk of URLs: {url: value_json, or None where the plan raises}."""
    from mlscraper_spark.crawl.synthweb import fetch
    from mlscraper_spark.training.scrapers import apply_plan_to_html

    out = {}
    for url in urls:
        _, html = fetch(url, web)
        try:
            out[url] = json.dumps(apply_plan_to_html(html, plan, strict=False),
                                  sort_keys=True)
        except Exception:
            out[url] = None
    return out


def extraction_worker(src: str, dst: str) -> None:
    """Child-process entry: ``_extraction_chunk`` over the pickled
    (urls, web, plan) in ``src``, its result pickled into ``dst``."""
    with open(src, "rb") as f:
        args = pickle.load(f)
    with open(dst, "wb") as f:
        pickle.dump(_extraction_chunk(*args), f)


def _extraction_oracle(urls: list[str], web, plan, work: str) -> dict:
    """``_extraction_chunk`` over every URL, spread over one child process
    per core (the Spark session is idle while the gates run).  Each child
    is waited for, and on an error the ones still running are killed
    first."""
    n = len(os.sched_getaffinity(0))
    here = os.path.dirname(os.path.abspath(__file__))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([here, os.path.dirname(here)]))
    code = "import sys, workloads; workloads.extraction_worker(*sys.argv[1:])"
    os.makedirs(work, exist_ok=True)
    procs, outs = [], []
    try:
        for i in range(n):
            src, dst = (os.path.join(work, f"oracle{i}.{x}") for x in ("in", "out"))
            with open(src, "wb") as f:
                pickle.dump((urls[i::n], web, plan), f)
            procs.append(subprocess.Popen([sys.executable, "-c", code, src, dst], env=env))
            outs.append(dst)
        for p in procs:
            if p.wait() != 0:
                raise RuntimeError(f"extraction oracle worker exited {p.returncode}")
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
    out = {}
    for dst in outs:
        with open(dst, "rb") as f:
            out.update(pickle.load(f))
    return out


class CrawlExtract:
    """A fused crawl: ``run_crawl`` with the q45 scraper plan and image
    emission, 2 epochs over a seeded sample of hosts of a wide synthetic
    web."""

    N_HOSTS, SEED_HOSTS, WARM_HOSTS, EPOCHS = 100_000, 1000, 12, 2
    MIN_OPS = 1

    def __init__(self, work: str, seed: int, seed_hosts: int = SEED_HOSTS):
        self.work, self.seed, self.seed_hosts = work, seed, seed_hosts
        self.ops = 0

    def prepare(self) -> None:
        from mlscraper_spark.crawl.engine import CrawlConfig
        from mlscraper_spark.crawl.synthweb import WebConfig

        self.web = WebConfig(n_hosts=self.N_HOSTS, max_pages_per_host=40,
                             links_per_page=10)
        self.cfg = CrawlConfig(budget_per_host=8, n_buckets=32)
        rng = random.Random(self.seed)
        hosts = rng.sample(range(self.N_HOSTS), self.seed_hosts + self.WARM_HOSTS)
        self.seeds = [f"http://{self.web.host_name(i)}/page/0"
                      for i in sorted(hosts[:self.seed_hosts])]
        self.warm_seeds = [f"http://{self.web.host_name(i)}/page/0"
                           for i in sorted(hosts[self.seed_hosts:])]

    def _train(self) -> None:
        """The q45 scraper plan, trained from two example pages."""
        from mlscraper_spark.queries import _q45_setup

        t0 = time.perf_counter()
        _, _, self.plan = _q45_setup()
        self.train_s = time.perf_counter() - t0

    def warm_up(self, spark) -> None:
        """Plan training, then a one-epoch crawl of other hosts."""
        self._train()
        self._crawl(spark, os.path.join(self.work, "warm"), self.warm_seeds, 1)

    def _crawl(self, spark, root, seeds, epochs) -> None:
        from mlscraper_spark.crawl.engine import run_crawl

        run_crawl(spark, root, seeds, self.web, self.cfg, epochs,
                  scraper_plan=self.plan, emit_images=True)

    def op(self, spark) -> tuple[float, int, str]:
        """One crawl into a fresh root: (wall s, extraction rows, root)."""
        from mlscraper_spark.crawl.engine import read_extractions

        root = os.path.join(self.work, f"crawl{self.ops}")
        self.ops += 1
        t0 = time.perf_counter()
        self._crawl(spark, root, self.seeds, self.EPOCHS)
        wall = time.perf_counter() - t0
        return wall, read_extractions(spark, root).count(), root

    @staticmethod
    def summary(outputs) -> tuple[float, float]:
        """(median crawl wall, median extraction rows per second)."""
        return (statistics.median(w for w, _, _ in outputs),
                statistics.median(n / w for w, n, _ in outputs))

    @staticmethod
    def report(outputs) -> None:
        """Each crawl's wall and extraction rows, on stderr."""
        for wall, rows, _ in outputs:
            print(f"crawl {wall:.3f} s, {rows} extraction rows", file=sys.stderr)

    def companion(self) -> "Queries":
        return Queries(os.path.join(self.work, "companion"), self.seed)

    @staticmethod
    def traced_wall(spans) -> float:
        """Wall of the traced ``run_crawl``."""
        return spans[0].wall_s

    @staticmethod
    def untraced_wall(outputs) -> float:
        """Wall of the last untraced crawl, the one just before the traced
        one."""
        return outputs[-1][0]

    # ---- correctness -------------------------------------------------
    def _expected(self):
        """Sequential oracle crawl with the same seeds, budget and epochs,
        plus q45's extraction oracle for every status-200 page."""
        if not hasattr(self, "_oracle"):
            from mlscraper_spark.crawl.oracle import crawl_oracle

            state = crawl_oracle(self.seeds, self.web, self.cfg.budget_per_host,
                                 self.EPOCHS)
            log = sorted((r["epoch"], r["seq"], r["url_canon"], r["status"],
                          r["n_links"], r["n_images"], r["page_fp"])
                         for r in state.fetch_log)
            ok = [r["url_canon"] for r in state.fetch_log if r["status"] == 200]
            extractions = _extraction_oracle(ok, self.web, self.plan, self.work)
            n_images = sum(r["n_images"] for r in state.fetch_log if r["status"] == 200)
            self._oracle = (log, set(state.url_seen), extractions, n_images)
        return self._oracle

    def check(self, spark, outputs) -> dict[str, bool]:
        out = {}
        for k, (_, _, root) in enumerate(outputs):
            out.update({f"crawl{k}.{n}": ok for n, ok in self._check(spark, root).items()})
        return out

    def _check(self, spark, root: str) -> dict[str, bool]:
        from mlscraper_spark.crawl.engine import (
            last_complete_epoch,
            read_extractions,
            read_fetch_log,
            read_images,
            read_url_seen,
        )

        log, seen, extractions, n_images = self._expected()
        got_log = sorted(tuple(r) for r in read_fetch_log(spark, root).select(
            "epoch", "seq", "url_canon", "status", "n_links", "n_images",
            "page_fp").collect())
        got_seen = {r[0] for r in read_url_seen(
            spark, root, last_complete_epoch(root)).select("url_canon").collect()}
        got_ext = read_extractions(spark, root).collect()
        return {
            "fetch_log": got_log == log,
            "url_seen": got_seen == seen,
            "extractions": len(got_ext) == len(extractions)
            and {r.url_canon: r.value_json for r in got_ext} == extractions,
            "images": read_images(spark, root).count() == n_images,
        }

    def digest(self, spark, root: str) -> str:
        """Hash of every output table of a crawl root."""
        from pyspark.sql import functions as F

        from mlscraper_spark.crawl.engine import (
            last_complete_epoch,
            read_extractions,
            read_fetch_log,
            read_images,
            read_url_seen,
        )

        frames = [
            read_fetch_log(spark, root),
            read_url_seen(spark, root, last_complete_epoch(root)),
            read_extractions(spark, root),
            read_images(spark, root).withColumn("bytes", F.md5("bytes")),
        ]
        h = hashlib.sha256()
        for df in frames:
            for row in sorted(repr(tuple(r)) for r in df.collect()):
                h.update(row.encode())
        return h.hexdigest()

    # ---- traced run ----------------------------------------------------
    def traced_op(self, spark, tracer) -> str:
        """``run_crawl``'s calls, in its order, each inside a span."""
        from pyspark.sql import functions as F

        from mlscraper_spark.crawl.engine import (
            FETCHLOG_SCHEMA,
            _snap_dir,
            last_complete_epoch,
            run_epoch,
            seed_crawl,
        )
        from mlscraper_spark.images.ops import fetch_and_extract_images
        from mlscraper_spark.operators.extract import extract_from_urls
        from mlscraper_spark.tables import get_table_format

        root = os.path.join(self.work, "traced")
        with tracer.span("crawl.engine.run_crawl"):
            if last_complete_epoch(root) is not None:
                raise RuntimeError(f"{root} already holds a crawl")
            with tracer.span("crawl.engine.seed_crawl"):
                seed_crawl(spark, root, self.seeds, self.web, self.cfg)
            fmt = get_table_format(spark)
            for epoch in range(self.EPOCHS):
                with tracer.span(f"crawl.engine.run_epoch.e{epoch}"):
                    n = run_epoch(spark, root, epoch, self.web, self.cfg)
                if n == 0:
                    break
                d = _snap_dir(root, epoch)
                urls = fmt.read(spark, [os.path.join(d, "fetch_log")],
                                FETCHLOG_SCHEMA).filter(F.col("status") == 200
                                                        ).select("url_canon")
                with tracer.span("operators.extract.extract_from_urls"):
                    fmt.write(extract_from_urls(urls, self.plan, self.web),
                              os.path.join(d, "extractions"))
                with tracer.span("images.ops.fetch_and_extract_images"):
                    fmt.write(fetch_and_extract_images(urls, self.web),
                              os.path.join(d, "images"))
        return root

    def trace(self, spark, tracer, outputs, tally) -> dict[str, float]:
        """Traced crawl, checked against the first untraced crawl (as a
        companion, with no untraced crawl, against the oracle); returns
        the kernel, training and storage metrics."""
        if not hasattr(self, "plan"):
            self._train()
        traced = self.traced_op(spark, tracer)
        if outputs:
            root = outputs[0][2]
            tally.record("traced output equals untraced output",
                         self.digest(spark, traced) == self.digest(spark, root))
        else:
            root = traced
            for name, ok in self._check(spark, traced).items():
                tally.record(f"traced crawl {name}", ok)
        return {**self.kernels(spark, root), **self.storage(spark, traced),
                "training.train.train_scraper_s": self.train_s}

    def kernels(self, spark, root: str) -> dict[str, float]:
        from mlscraper_spark.crawl.engine import read_fetch_log

        urls = sorted(r[0] for r in read_fetch_log(spark, root)
                      .select("url_canon").collect())
        sample = random.Random(self.seed).sample(urls, min(KERNEL_SAMPLE, len(urls)))
        return crawl_kernels(sample, urls, self.web, self.plan)

    def storage(self, spark, root: str) -> dict[str, float]:
        """Snapshot bytes and files, fetch success and discovery yield,
        read from the crawl root after the run."""
        from pyspark.sql import functions as F

        from mlscraper_spark.crawl.engine import (
            _snap_dir,
            read_fetch_log,
            read_frontier,
            read_url_seen,
        )

        def files(d):
            return [os.path.join(b, f) for b, _, fs in os.walk(d) for f in fs]

        log = read_fetch_log(spark, root).agg(
            F.count(F.lit(1)), F.sum((F.col("status") == 200).cast("int")),
            F.sum("n_links")).first()
        n_urls, n_ok, n_links = log

        def known(epoch):
            seen = read_url_seen(spark, root, epoch).select("url_canon")
            return read_frontier(spark, root, epoch).select("url_canon") \
                .union(seen).distinct().count()

        last = self.EPOCHS - 1
        return {
            "tables.bytes_per_url": sum(os.path.getsize(f) for f in files(root)) / n_urls,
            "tables.files_per_epoch": statistics.mean(
                len(files(_snap_dir(root, e))) for e in range(self.EPOCHS)),
            "crawl.fetch.ok_frac": n_ok / n_urls,
            "crawl.discovery.new_frac": (known(last) - known(-1)) / n_links,
        }


class Queries:
    """The 8 ``bench.HEADLINE`` queries, each run cold into the noop sink,
    over the sf0.1 testdata tables they read (``perfbench/sf0.1``)."""

    # Two legs per query, and each query reports its faster leg: the host is
    # shared, and a contention episode of a few seconds slows one leg.
    MIN_OPS = 2

    def __init__(self, work: str, seed: int):
        # the tables are fixed: the seed only picks the kernels' page sample
        self.work, self.seed = work, seed

    def prepare(self) -> None:
        """Nothing to make: the tables are fixed files."""

    def warm_up(self, spark) -> None:
        """The checked pass: every query once, cold, over the same tables
        as the measured passes, collected to the driver for the oracle
        comparison in ``check``."""
        from mlscraper_spark.queries import QUERIES, release_caches

        self.collected = {}
        for name in query_names():
            release_caches()
            spark.catalog.clearCache()
            sdf = QUERIES[name](spark, SF_DIR)
            self.collected[name] = (sdf.columns, sdf.collect())

    def op(self, spark) -> dict[str, float]:
        """One cold pass over the headline queries into the noop sink:
        {query: wall s}."""
        from mlscraper_spark.queries import QUERIES, release_caches

        walls = {}
        for name in query_names():
            release_caches()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            QUERIES[name](spark, SF_DIR).write.mode("overwrite").format("noop").save()
            walls[name] = time.perf_counter() - t0
        return walls

    @staticmethod
    def summary(outputs) -> tuple[float, float]:
        """(pass wall, queries per second); a query's wall is the fastest of
        its cold legs, and the pass is their sum."""
        op_s = sum(min(o[q] for o in outputs) for q in outputs[0])
        return op_s, len(outputs[0]) / op_s

    @staticmethod
    def report(outputs) -> None:
        """Each query's fastest cold leg, then all its legs, on stderr."""
        for q in outputs[0]:
            legs = [o[q] for o in outputs]
            print(f"{q}_s {min(legs):.4f} s  legs {' '.join(f'{v:.4f}' for v in legs)}",
                  file=sys.stderr)

    @staticmethod
    def traced_wall(spans) -> float:
        """Summed wall of the traced pass's query spans; like ``op``'s
        walls, they leave out the cache release before each query."""
        return sum(s.wall_s for s in spans if s.name.startswith("queries.q"))

    @staticmethod
    def untraced_wall(outputs) -> float:
        """Summed query walls of the last untraced pass, the one just
        before the traced pass."""
        return sum(outputs[-1].values())

    def companion(self) -> CrawlExtract:
        return CrawlExtract(os.path.join(self.work, "companion"), self.seed,
                            seed_hosts=CrawlExtract.WARM_HOSTS)

    def check(self, spark, outputs) -> dict[str, bool]:
        """Each query's collected rows against its DuckDB oracle, compared
        as scripts/parity_check.py does: sorted columns, hex-exact
        doubles."""
        import duckdb
        from parity_check import _norm

        from mlscraper_spark.queries import ORACLE_SQL

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{_table(t)}')")
        out = {}
        for name, (columns, rows) in self.collected.items():
            cols = sorted(columns)
            got = sorted(tuple(_norm(r[c]) for c in cols) for r in rows)
            res = con.execute(ORACLE_SQL[name])
            ocols = [d[0] for d in res.description]
            want = sorted(tuple(_norm(r[ocols.index(c)]) for c in cols)
                          for r in res.fetchall())
            out[name] = sorted(ocols) == cols and got == want
        con.close()
        return out

    def trace(self, spark, tracer, outputs, tally) -> dict[str, float]:
        """Traced pass; returns the parser and plan kernels."""
        from mlscraper_spark.queries import QUERIES, release_caches

        with tracer.span("queries.headline_pass"):
            for name in query_names():
                release_caches()
                spark.catalog.clearCache()
                with tracer.span(f"queries.{name}"):
                    QUERIES[name](spark, SF_DIR).write.mode(
                        "overwrite").format("noop").save()
        return self.kernels()

    def kernels(self) -> dict[str, float]:
        """Parser and plan kernels over a seeded sample of the pages q23
        builds from the documents table."""
        import pyarrow.parquet as pq

        from mlscraper_spark.queries import _PAGE_HTML
        from mlscraper_spark.training.scrapers import css_selector, dict_plan, value_plan

        docs = pq.read_table(_table("documents"),
                             columns=["source", "text"]).to_pylist()
        sample = random.Random(self.seed).sample(docs, min(KERNEL_SAMPLE, len(docs)))
        htmls = [(_PAGE_HTML[0] + d["source"] + _PAGE_HTML[1] + d["text"]
                  + _PAGE_HTML[2]).encode() for d in sample]
        plan = dict_plan({"title": value_plan(css_selector(".title"), {"kind": "text"})})
        return page_kernels(htmls, plan)
