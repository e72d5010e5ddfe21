import os

import pytest

REFERENCE_STATIC = "/root/reference/tests/static"


def reference_fixture(relpath: str) -> bytes:
    """Load a reference HTML fixture (test data, read at runtime)."""
    path = os.path.join(REFERENCE_STATIC, relpath)
    if not os.path.exists(path):
        pytest.skip(f"reference fixture missing: {relpath}")
    with open(path, "rb") as f:
        return f.read()


# golden items, verbatim from /root/reference/tests/conftest.py:11-27
SO_ITEM = [
    {
        "user": "/users/624900/jterrace",
        "upvotes": "20",
        "when": "2011-06-16 19:45:11Z",
    },
    {
        "user": "/users/4044167/nico-knoll",
        "upvotes": "16",
        "when": "2017-09-06 15:27:16Z",
    },
    {
        "user": "/users/1275778/lorey",
        "upvotes": "0",
        "when": "2021-01-06 10:50:04Z",
    },
]

# verbatim from /root/reference/tests/test_training.py:98-126
GITHUB_PROFILES = {
    "lorey": {
        "name": "Karl Lorey",
        "username": "lorey",
        "location": "Berlin, Germany",
        "url": "https://karllorey.com",
        "company": "@loreyventures",
        "followers": "197",
        "following": "243",
    },
    "jonashaag": {
        "name": "Jonas Haag",
        "username": "jonashaag",
        "location": "Karlsruhe, Germany",
        "url": "https://de.linkedin.com/in/haag",
        "company": "@Quantco",
        "followers": "329",
        "following": "20",
    },
    "siboehm": {
        "name": "Simon Boehm",
        "username": "siboehm",
        "location": "Erlangen, Germany",
        "url": "http://siboehm.com",
        "company": "AMD",
        "followers": "87",
        "following": "27",
    },
}


# one page for the match scans' edge cases: a value repeated in one node's
# own texts (<p>), an equal-text wrapper chain (section, div) that ends
# below the root, and attribute hits on class, rel, width and href
CRAFTED_SCAN_PAGE = (
    b'<html><body><div class="v" rel="v"> <section>\n<p>v<br>v</p> </section></div>'
    b'<a href="v" rel="v" class="v k">link</a><img width="v" src="v"></body></html>'
)


def scan_corpus(name: str) -> list[tuple[str, bytes]]:
    """(page_key, html) pages the match scans are checked over: ``quotes``
    (the three quotes pages), ``synthweb`` (every page of a 6-host
    synthetic web), ``crafted`` (``CRAFTED_SCAN_PAGE``), ``inrepo`` (the
    in-repo stackoverflow and github pages) and ``reference`` (the
    reference's so.html; skips where it is absent)."""
    from mlscraper_spark import fixtures as fx
    from mlscraper_spark.crawl.synthweb import WebConfig, fetch

    if name == "quotes":
        return [(a, fx.quotes_author_page(a)) for a in fx.QUOTES_AUTHORS]
    if name == "synthweb":
        web = WebConfig(n_hosts=6, max_pages_per_host=20, enable_aliases=True)
        return [(f"{i}/{j}", fetch(f"http://{web.host_name(i)}/page/{j}", web)[1])
                for i in range(web.n_hosts) for j in range(web.n_pages(i))]
    if name == "crafted":
        return [("crafted", CRAFTED_SCAN_PAGE)]
    if name == "inrepo":
        return [("so", fx.stackoverflow_answer_page(SO_ITEM))] + [
            (login, fx.github_profile_page(p)) for login, p in GITHUB_PROFILES.items()]
    assert name == "reference", name
    return [("so", reference_fixture("so.html"))]


SCAN_CORPORA = ["quotes", "synthweb", "crafted", "inrepo", "reference"]


def page_values(records) -> list[str]:
    """Every own text and every attribute value of a parsed page, once
    each, in document order."""
    return list(dict.fromkeys(
        v for r in records for v in [*r.own_texts, *r.attrs.values()]))


def job_labels(spark, fn):
    """``(fn(), labels of the Spark jobs submitted while it ran)``, found
    by diffing job ids in the driver status store: the crawl's snapshot
    writes run in a thread pool, which a job group set on this thread
    does not reach.  A job's label is its ``spark.job.description`` if it
    has one, else its call-site name."""
    sc = spark.sparkContext._jsc.sc()
    bus, store = sc.listenerBus(), sc.statusStore()

    def jobs():
        bus.waitUntilEmpty()
        jobs = store.jobsList(None)
        return [jobs.apply(i) for i in range(jobs.size())]

    before = max((j.jobId() for j in jobs()), default=-1)
    out = fn()
    return out, [
        j.description().get() if j.description().isDefined() else j.name()
        for j in sorted(jobs(), key=lambda j: j.jobId()) if j.jobId() > before
    ]


def jobs_submitted(spark, fn):
    """``(fn(), number of Spark jobs submitted while it ran)``."""
    out, labels = job_labels(spark, fn)
    return out, len(labels)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from mlscraper_spark.session import get_spark

    spark = get_spark("mlscraper-spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
