"""The reference's end-to-end training goldens, ported from
/root/reference/tests/test_training.py (all five) plus the offline quotes
example (tests/test_examples.py:8-18)."""
from mlscraper_spark.fixtures import quotes_author_page
from mlscraper_spark.training.matches import PAGE_ROOT
from mlscraper_spark.training.samples import Sample, SamplePage, TrainingSet
from mlscraper_spark.training.scrapers import apply_plan, apply_plan_to_html
from mlscraper_spark.training.train import train_scraper
from tests.conftest import GITHUB_PROFILES, SO_ITEM, reference_fixture


def _train(pages_values, complexity=100):
    ts = TrainingSet()
    for i, (html, value) in enumerate(pages_values):
        ts.add_sample(Sample(SamplePage(f"s{i}", html), value))
    return train_scraper(ts, complexity=complexity)


def test_train_scraper_simple_list():
    # test_training.py:12-31
    plan = _train(
        [(b"<html><body><p>a</p><i>noise</i><p>b</p><p>c</p></body></html>",
          ["a", "b", "c"])]
    )
    assert plan["type"] == "list"
    assert plan["selector"] == {"kind": "css", "rule": "p"}
    assert plan["item"]["selector"]["kind"] == "pass"
    assert plan["item"]["extractor"] == {"kind": "text"}


def test_train_scraper_list_of_lists():
    # test_training.py:34-60
    html = b"""<html><body><div><p>a</p><p>b</p></div>
    <div><p>c</p><p>d</p></div></body></html>"""
    plan = _train([(html, [["a", "b"], ["c", "d"]])])
    assert plan["selector"]["rule"] == "div"
    assert plan["item"]["selector"]["rule"] == "p"
    assert plan["item"]["item"]["selector"]["kind"] == "pass"


def test_train_scraper_multipage_generalizes():
    # test_training.py:63-81
    pv = []
    for items in ["ab", "cd"]:
        html = (
            b'<html><body><div class="target"><ul><li>%s</li><li>%s</li></ul>'
            b"</div></body></html>" % (items[0].encode(), items[1].encode())
        )
        pv.append((html, [items[0], items[1]]))
    plan = _train(pv)
    assert plan["selector"]["rule"] == "li"
    assert apply_plan_to_html(
        b"<html><body><ul><li>first</li><li>second</li></body></html>", plan
    ) == ["first", "second"]


def test_train_scraper_stackoverflow():
    # test_training.py:84-95 (complexity=2, round-trip equality)
    html = reference_fixture("so.html")
    plan = _train([(html, SO_ITEM)], complexity=2)
    assert plan["type"] == "list"
    assert apply_plan_to_html(html, plan) == SO_ITEM


def test_train_scraper_github():
    # test_training.py:130-158 (train on 2 profiles, extract the 3rd)
    pv = [
        (reference_fixture(f"github/{login}.html"), GITHUB_PROFILES[login])
        for login in ["lorey", "siboehm"]
    ]
    plan = _train(pv, complexity=2)
    target = reference_fixture("github/jonashaag.html")
    assert apply_plan_to_html(target, plan) == GITHUB_PROFILES["jonashaag"]


def test_quotes_example_offline():
    # tests/test_examples.py:8-18, served from deterministic offline pages
    plan = _train(
        [(quotes_author_page("einstein"),
          {"name": "Albert Einstein", "born": "March 14, 1879"})]
    )
    assert apply_plan_to_html(quotes_author_page("rowling"), plan) == {
        "name": "J.K. Rowling",
        "born": "July 31, 1965",
    }
    # the public single-page API (reference scraper.get ergonomics) agrees
    from mlscraper_spark.api import scrape_one

    assert scrape_one(quotes_author_page("rowling"), plan) == {
        "name": "J.K. Rowling",
        "born": "July 31, 1965",
    }


def test_no_scraper_found_raises():
    from mlscraper_spark.training.samples import NoMatchFoundException
    import pytest

    with pytest.raises(NoMatchFoundException):
        _train([(b"<html><body><p>a</p></body></html>", "missing-value")])


def test_namespaced_attrs_do_not_crash_training():
    # xml:lang / xlink:href style attributes must be skipped, not crash
    plan = _train(
        [(b'<html><body><div class="a"><span xml:lang="en">Hello</span></div></body></html>',
          "Hello")]
    )
    assert apply_plan_to_html(
        b'<html><body><div class="a"><span xml:lang="de">Hallo</span></div></body></html>',
        plan,
    ) == "Hallo"
