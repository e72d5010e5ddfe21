"""Per-page kernel timings: time busy per item, in microseconds.

Each kernel is called single-threaded on the driver over a seeded sample
of the workload's own pages, outside any timed run.  A kernel runs over the
whole sample several times and the median round is reported, so one
scheduler hiccup does not move the figure.
"""
from __future__ import annotations

import statistics
import time

ROUNDS = 5

KERNELS = (
    "crawl.synthweb.fetch_us",
    "crawl.synthweb.response_meta_us",
    "crawl.urlnorm.canonicalize_us",
    "crawl.cuckoo.insert_us",
    "crawl.cuckoo.contains_us",
    "dom.parser.parse_html_us",
    "training.scrapers.apply_plan_us",
    "crawl.synthweb.extract_images_us",
    "images.codec.ppm_us",
    "images.codec.dctq_us",
)


def _us_per_item(run, n_items: int) -> float:
    """Median over ROUNDS of ``run()``'s wall, per item, in µs."""
    rounds = []
    for _ in range(ROUNDS):
        t0 = time.perf_counter()
        run()
        rounds.append((time.perf_counter() - t0) / n_items * 1e6)
    return statistics.median(rounds)


def _each(fn, items):
    return lambda: [fn(x) for x in items]


def crawl_kernels(urls: list[str], run_urls: list[str], web, plan) -> dict[str, float]:
    """Kernels of the fused crawl over the sampled ``urls``; the cuckoo
    filter kernels run over every URL of the crawl (``run_urls``) at the
    CrawlConfig default geometry."""
    import numpy as np
    import pandas as pd

    from mlscraper_spark.crawl.cuckoo import CuckooFilter
    from mlscraper_spark.crawl.engine import CrawlConfig
    from mlscraper_spark.crawl.synthweb import extract_images, fetch, response_meta
    from mlscraper_spark.crawl.urlnorm import canonicalize_series, url_hash
    from mlscraper_spark.dom.parser import parse_html
    from mlscraper_spark.images.codec import decode, encode, make_image, phash
    from mlscraper_spark.images.ops import default_fmt_policy
    from mlscraper_spark.training.scrapers import apply_plan_to_html

    pages = [(u, *fetch(u, web)) for u in urls]
    ok = [html for _, status, html in pages if status == 200]
    links = pd.Series([raw for u, status, html in pages
                       for raw in response_meta(u, status, html, web)[0]])
    images = [(im["src"], im["w"], im["h"]) for html in ok for im in extract_images(html)]

    hashes = np.array([url_hash(u) for u in run_urls], dtype=np.int64)
    n_filter = CrawlConfig().filter_buckets
    filled = CuckooFilter(n_filter)
    filled.insert_many(hashes)

    def insert_fresh():
        # filter allocation is part of what an epoch pays per bucket
        CuckooFilter(n_filter).insert_many(hashes)

    def codec_round_trip(fmt):
        def run():
            for image_id, w, h in images:
                if default_fmt_policy(image_id, w, h) == fmt:
                    phash(decode(encode(make_image(image_id, w, h), fmt), fmt))
        return run

    n_fmt = {fmt: sum(default_fmt_policy(*im) == fmt for im in images)
             for fmt in ("ppm", "dctq")}
    return {
        "crawl.synthweb.fetch_us": _us_per_item(_each(lambda u: fetch(u, web), urls), len(urls)),
        "crawl.synthweb.response_meta_us": _us_per_item(
            _each(lambda p: response_meta(p[0], p[1], p[2], web), pages), len(pages)),
        "crawl.urlnorm.canonicalize_us": _us_per_item(
            lambda: canonicalize_series(links), len(links)),
        "crawl.cuckoo.insert_us": _us_per_item(insert_fresh, len(hashes)),
        "crawl.cuckoo.contains_us": _us_per_item(
            lambda: filled.contains_many(hashes), len(hashes)),
        "dom.parser.parse_html_us": _us_per_item(_each(parse_html, ok), len(ok)),
        "training.scrapers.apply_plan_us": _us_per_item(
            _each(lambda h: apply_plan_to_html(h, plan, strict=False), ok), len(ok)),
        "crawl.synthweb.extract_images_us": _us_per_item(_each(extract_images, ok), len(ok)),
        "images.codec.ppm_us": _us_per_item(codec_round_trip("ppm"), n_fmt["ppm"]),
        "images.codec.dctq_us": _us_per_item(codec_round_trip("dctq"), n_fmt["dctq"]),
    }


def page_kernels(htmls: list[bytes], plan) -> dict[str, float]:
    """Parser and plan kernels over stored pages."""
    from mlscraper_spark.dom.parser import parse_html
    from mlscraper_spark.training.scrapers import apply_plan_to_html

    return {
        "dom.parser.parse_html_us": _us_per_item(_each(parse_html, htmls), len(htmls)),
        "training.scrapers.apply_plan_us": _us_per_item(
            _each(lambda h: apply_plan_to_html(h, plan, strict=False), htmls), len(htmls)),
    }
