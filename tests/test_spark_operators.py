"""Distributed operators: explode, match scan (vs local scan), extraction,
and Spark-backed training (SURVEY.md §3.1/§3.2 architecture)."""
import json

import pytest
from pyspark.sql import functions as F

from mlscraper_spark.dom.css import PageDOM
from mlscraper_spark.dom.parser import parse_html
from mlscraper_spark.fixtures import quotes_author_page
from mlscraper_spark.operators.explode import explode_pages
from mlscraper_spark.operators.extract import extract_list_items, extract_with_plan
from mlscraper_spark.operators.matching import build_value_match_index, scan_matches
from mlscraper_spark.training.matches import scan_value_matches
from tests.conftest import SO_ITEM, jobs_submitted, reference_fixture


def _pages_df(spark, pages):
    return spark.createDataFrame(
        [(k, bytearray(h if isinstance(h, bytes) else h.encode())) for k, h in pages],
        "page_id string, html binary",
    )


def test_explode_pages(spark):
    html = b'<html><body><div id="d"><p class="x y">hi</p></div></body></html>'
    nodes = explode_pages(_pages_df(spark, [("p1", html)])).collect()
    by_tag = {r.tag: r for r in nodes}
    assert set(by_tag) == {"html", "body", "div", "p"}
    p = by_tag["p"]
    assert p.classes == ["x", "y"]
    assert p.own_texts == ["hi"]
    assert by_tag["div"].id_attr == "d"
    assert p.parent_id == by_tag["div"].node_id
    assert by_tag["div"].node_id in p.ancestor_ids


def test_scan_matches_agrees_with_local(spark):
    """The distributed scan and the driver-side scan must be one semantics."""
    html = reference_fixture("so.html")
    values = ["/users/624900/jterrace", "20", "2011-06-16 19:45:11Z"]
    nodes = explode_pages(_pages_df(spark, [("so", html)]))
    values_df = spark.createDataFrame([(v,) for v in values], "value string")
    got = {
        (r.value, r.node_id, r.extractor_kind, r.extractor_attr)
        for r in scan_matches(nodes, values_df, drop_dimensions=False).collect()
    }
    dom = PageDOM(parse_html(html))
    want = set()
    for v in values:
        for m in scan_value_matches("so", dom, v):
            kind = m.extractor[0]
            attr = m.extractor[1] if kind == "attr" else None
            want.add((v, m.node_id, kind, attr))
    assert got == want


def test_scan_matches_dimensions_filter(spark):
    html = b'<html><body><img height="20" width="20"></body></html>'
    nodes = explode_pages(_pages_df(spark, [("p", html)]))
    values_df = spark.createDataFrame([("20",)], "value string")
    assert scan_matches(nodes, values_df).count() == 0
    assert scan_matches(nodes, values_df, drop_dimensions=False).count() > 0


def test_extract_with_plan_distributed(spark):
    from mlscraper_spark.training.scrapers import css_selector, dict_plan, value_plan

    plan = dict_plan(
        {
            "name": value_plan(css_selector(".author-title"), {"kind": "text"}),
            "born": value_plan(css_selector(".author-born-date"), {"kind": "text"}),
        }
    )
    pages = [(k, quotes_author_page(k)) for k in ["einstein", "rowling", "austen"]]
    rows = extract_with_plan(_pages_df(spark, pages), plan).collect()
    got = {r.page_id: json.loads(r.value_json) for r in rows}
    assert got["rowling"] == {"name": "J.K. Rowling", "born": "July 31, 1965"}
    assert got["einstein"]["born"] == "March 14, 1879"
    assert len(got) == 3


def test_extract_list_items_stackoverflow(spark):
    from mlscraper_spark.training.scrapers import (
        css_selector,
        dict_plan,
        list_plan,
        value_plan,
    )

    plan = list_plan(
        css_selector(".answer"),
        dict_plan(
            {
                "user": value_plan(
                    css_selector(".user-details a"), {"kind": "attr", "attr": "href"}
                ),
                "upvotes": value_plan(css_selector(".js-vote-count"), {"kind": "text"}),
                "when": value_plan(
                    css_selector(".user-action-time span"),
                    {"kind": "attr", "attr": "title"},
                ),
            }
        ),
    )
    df = extract_list_items(_pages_df(spark, [("so", reference_fixture("so.html"))]), plan)
    items = [json.loads(r.item_json) for r in df.sort("item_index").collect()]
    assert items == SO_ITEM


def test_train_scraper_spark_end_to_end(spark):
    """Quotes golden with the match scan running as a Spark job."""
    from mlscraper_spark.api import scrape, train_scraper

    plan = train_scraper(
        [(quotes_author_page("einstein"),
          {"name": "Albert Einstein", "born": "March 14, 1879"})],
        spark=spark,
    )
    result = scrape(_pages_df(spark, [("rowling", quotes_author_page("rowling"))]), plan)
    value = json.loads(result.collect()[0].value_json)
    assert value == {"name": "J.K. Rowling", "born": "July 31, 1965"}


def test_train_scraper_spark_job_budget(spark):
    """Quotes training with ``spark`` trains the driver-side plan and
    submits at most 11 Spark jobs: the distributed match scan is the
    only Spark work, selector-uniqueness verification stays inline."""
    from mlscraper_spark.api import train_scraper

    examples = [(quotes_author_page("einstein"),
                 {"name": "Albert Einstein", "born": "March 14, 1879"})]
    plan, n_jobs = jobs_submitted(
        spark, lambda: train_scraper(examples, spark=spark))
    assert plan == train_scraper(examples)
    assert n_jobs <= 11, n_jobs


def test_stackoverflow_golden_with_spark_scan(spark):
    """The SO golden (test_training.py:84-95) with the match scan running
    distributed: same plan shape + round-trip as the driver-side scan."""
    import mlscraper_spark.api as api
    from mlscraper_spark.training.scrapers import apply_plan_to_html

    html = reference_fixture("so.html")
    plan = api.train_scraper([(html, SO_ITEM)], complexity=2, spark=spark)
    assert plan["type"] == "list"
    assert apply_plan_to_html(html, plan) == SO_ITEM


def test_value_match_index_empty_for_missing(spark):
    idx = build_value_match_index(
        spark, [("p", b"<html><body><p>a</p></body></html>")], ["zzz"]
    )
    assert idx[("p", "zzz")] == []


def test_dedup_clusters_chain_collapses_to_one_survivor(spark):
    """A~B~C (plus an unrelated D~E pair) must collapse to ONE survivor
    per component — the pair list alone can't answer that (VERDICT r2
    'What's missing' #1); transitive closure + min-doc-id election can."""
    from mlscraper_spark.operators.neardup import dedup_clusters

    pairs = spark.createDataFrame(
        [(2, 7), (7, 5), (10, 11)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: (r.cluster_id, r.is_survivor)
           for r in dedup_clusters(pairs).collect()}
    assert got == {
        2: (2, True), 7: (2, False), 5: (2, False),
        10: (10, True), 11: (10, False),
    }


def test_dedup_clusters_empty_and_long_chain(spark):
    from mlscraper_spark.operators.neardup import dedup_clusters

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup_clusters(empty).count() == 0
    # a 12-node path exercises multi-round propagation (diameter 11)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "doc_a long, doc_b long"
    )
    rows = dedup_clusters(chain).collect()
    assert all(r.cluster_id == 0 for r in rows)
    assert sorted(r.doc_id for r in rows) == list(range(12))
    assert [r.doc_id for r in rows if r.is_survivor] == [0]


def test_query_registry_caches_released_between_queries(spark):
    """The driver's parity runner executes the whole registry in ONE
    session; each queries() entry must release the previous query's
    scoped caches so executor storage memory stays bounded at one
    query's working set (round-2 finding: leaked shingle caches)."""
    import time

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    sf = "/root/testdata/sf0.001"
    # q19 caches its shingle scan; materialize it
    qs["q19_minhash_lsh_pairs"](spark, sf).count()
    assert spark.sparkContext._jsc.sc().getRDDStorageInfo(), (
        "expected q19 to populate the cache"
    )
    # entering any other query releases q19's caches (unpersist is async)
    qs["q15_token_count"](spark, sf).count()
    for _ in range(40):
        if not spark.sparkContext._jsc.sc().getRDDStorageInfo():
            break
        time.sleep(0.25)
    assert not spark.sparkContext._jsc.sc().getRDDStorageInfo(), (
        "previous query's scoped caches were not released"
    )
