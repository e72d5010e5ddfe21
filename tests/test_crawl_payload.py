"""End-to-end north-star flow: train a scraper from examples, crawl, apply
the trained plan + image extraction per epoch, validate payload rows."""
import json

from mlscraper_spark.crawl.engine import (
    CrawlConfig,
    read_extractions,
    read_fetch_log,
    read_images,
    run_crawl,
)
from mlscraper_spark.crawl.synthweb import (
    WebConfig,
    author_for,
    captions_for,
    fetch,
    parse_page_url,
)
from mlscraper_spark.training.samples import Sample, SamplePage, TrainingSet
from mlscraper_spark.training.train import train_scraper

WEB = WebConfig(n_hosts=8, max_pages_per_host=12)


def _trained_plan():
    """Train on two synthetic pages (example-driven, reference semantics)."""
    ts = TrainingSet()
    for url in ["http://host0.test/page/0", "http://host1.test/page/1"]:
        _, html = fetch(url, WEB)
        i, j = parse_page_url(url, WEB)
        ts.add_sample(Sample(SamplePage(url, html), author_for(i, j)))
    return train_scraper(ts)


def _payload(spark, root):
    extractions = {(r.url_canon, r.value_json)
                   for r in read_extractions(spark, root).collect()}
    images = {tuple(r) for r in read_images(spark, root).collect()}
    return extractions, images


def test_payload_resume_after_kill_before_manifest(spark, tmp_path):
    """The payload tables are written inside the epoch, before its
    manifest (the commit marker).  A kill before the marker leaves the
    epoch uncommitted: the resume re-runs it whole, and extractions and
    images equal the uninterrupted run's."""
    import os

    plan = _trained_plan()
    root = str(tmp_path / "resume_crawl")
    cfg = CrawlConfig(budget_per_host=2)
    run_crawl(spark, root, WEB.seeds(2), WEB, cfg, max_epochs=2,
              scraper_plan=plan, emit_images=True)
    before = _payload(spark, root)
    assert before[0] and before[1]
    os.remove(f"{root}/snap_00002/_manifest.json")  # killed pre-commit
    run_crawl(spark, root, WEB.seeds(2), WEB, cfg, max_epochs=2,
              scraper_plan=plan, emit_images=True)
    assert _payload(spark, root) == before


def test_payload_comes_from_the_fetch_adapter(spark, tmp_path):
    """Extractions and images are derived from the bytes the injected
    adapter served, not from a second fetch of the synthetic web; the
    crawl itself still equals the oracle."""
    from mlscraper_spark.crawl.engine import read_url_seen
    from mlscraper_spark.crawl.fetchers import SynthWebAdapter
    from mlscraper_spark.crawl.oracle import crawl_oracle
    from mlscraper_spark.crawl.urlnorm import content_fp

    class RewritingAdapter(SynthWebAdapter):
        def fetch(self, url):
            status, html = super().fetch(url)
            return status, html.replace(
                b'class="author-title">', b'class="author-title">Served '
            ).replace(b' alt="', b' alt="served ')

    adapter = RewritingAdapter(WEB)
    plan = _trained_plan()
    root = str(tmp_path / "adapter_payload")
    run_crawl(spark, root, WEB.seeds(3), WEB, CrawlConfig(budget_per_host=2),
              max_epochs=2, scraper_plan=plan, emit_images=True,
              fetch_adapter=adapter)

    oracle = crawl_oracle(WEB.seeds(3), WEB, budget_per_host=2, max_epochs=2)
    log = sorted(
        (r.epoch, r.seq, r.url_canon, r.status, r.n_links, r.n_images,
         r.page_fp)
        for r in read_fetch_log(spark, root).collect()
    )
    assert log == sorted(
        (r["epoch"], r["seq"], r["url_canon"], r["status"], r["n_links"],
         r["n_images"],
         content_fp(adapter.fetch(r["url_canon"])[1])
         if r["status"] == 200 else None)
        for r in oracle.fetch_log
    )
    assert {r.url_canon for r in read_url_seen(spark, root, 1).collect()} \
        == oracle.url_seen

    ok = [u for _, _, u, status, *_ in log if status == 200]
    extractions = {r.url_canon: json.loads(r.value_json)
                   for r in read_extractions(spark, root).collect()}
    assert set(extractions) == set(ok)
    want_captions = []
    for url in ok:
        i, j = parse_page_url(url, WEB)
        author = author_for(i, j)
        assert extractions[url] == {"name": "Served " + author["name"],
                                    "born": author["born"]}, url
        want_captions += ["served " + im["caption"]
                          for im in captions_for(i, j, WEB)]
    got_captions = [r.caption for r in read_images(spark, root).collect()]
    assert sorted(got_captions) == sorted(want_captions)


def test_trained_plan_applied_over_crawl(spark, tmp_path):
    plan = _trained_plan()
    assert plan["type"] == "dict"

    root = str(tmp_path / "payload_crawl")
    run_crawl(spark, root, WEB.seeds(3), WEB, CrawlConfig(budget_per_host=2),
              max_epochs=3, scraper_plan=plan, emit_images=True)

    fetched = {
        r.url_canon
        for r in read_fetch_log(spark, root).filter("status = 200").collect()
    }
    assert fetched

    # every fetched page's extraction equals the generator's ground truth
    extractions = {
        r.url_canon: json.loads(r.value_json)
        for r in read_extractions(spark, root).collect()
    }
    assert set(extractions) == fetched
    for url, value in extractions.items():
        i, j = parse_page_url(url, WEB)
        assert value == author_for(i, j), url

    # image rows: exact caption equality + attribute-sourced dimensions
    images = {r.image_id: r for r in read_images(spark, root).collect()}
    n_expected = 0
    for url in fetched:
        i, j = parse_page_url(url, WEB)
        if j >= 10_000:
            continue  # private pages carry no gallery links but do have imgs
        for im in captions_for(i, j, WEB):
            n_expected += 1
            got = images[im["src"]]
            assert got.caption == im["caption"]
            assert (got.w, got.h) == (im["w"], im["h"])


def test_page_payload_kernel_conventions():
    """The per-page kernel the crawl's fetch stage and the extract/image
    operators share: "null" when the plan ran and matched nothing, NULL
    (None) with no images when the page cannot be parsed at all — a page
    nested past the recursion limit must fail alone, not fail the fetch
    task and with it the crawl."""
    from mlscraper_spark.operators.extract import page_payload

    plan = {"type": "value", "selector": {"kind": "css", "rule": "h1"},
            "extractor": {"kind": "text"}}
    page = b'<html><body><img src="/a.ppm" alt="cap" width="8"></body></html>'
    assert page_payload(page, plan, True) == (
        "null", [{"src": "/a.ppm", "caption": "cap", "w": 8, "h": 0}]
    )
    assert page_payload(page, None, False) == (None, [])
    assert page_payload(b"<div>" * 5000, plan, True) == (None, [])
