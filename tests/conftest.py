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


def jobs_submitted(spark, fn):
    """``(fn(), Spark jobs submitted while it ran)``, counted by diffing
    job ids in the driver status store: the crawl's snapshot writes run in
    a thread pool, which a job group set on this thread does not reach."""
    sc = spark.sparkContext._jsc.sc()
    bus, store = sc.listenerBus(), sc.statusStore()

    def job_ids():
        bus.waitUntilEmpty()
        jobs = store.jobsList(None)
        return [jobs.apply(i).jobId() for i in range(jobs.size())]

    before = max(job_ids(), default=-1)
    out = fn()
    return out, sum(1 for j in job_ids() if j > before)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from mlscraper_spark.session import get_spark

    spark = get_spark("mlscraper-spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
