"""Schema induction + match-set shapes, ported from
/root/reference/tests/test_samples.py."""
import pytest

from mlscraper_spark.training.matches import DictMatch, ListMatch
from mlscraper_spark.training.samples import (
    ItemStructureException,
    NoMatchFoundException,
    Sample,
    SamplePage,
    make_training_set,
)


def test_make_training_set():
    pages = [SamplePage("a", ""), SamplePage("b", "")]
    items = [{"a": "1", "b": "2"}, {"a": "3", "b": "4"}]
    make_training_set(pages, items)


def test_make_training_set_mixed_types_rejected():
    pages = [SamplePage("a", ""), SamplePage("b", "")]
    items = [{"a": "1", "b": "2"}, {"a": "3", "b": []}]
    with pytest.raises(ItemStructureException):
        make_training_set(pages, items)


def test_get_matches_dict_basic():
    # test_samples.py:34-44: two candidate DictMatches (p and div for "2010")
    page = SamplePage(
        "p",
        "<html><body><h1>test</h1><p>2010</p>"
        "<div class='footer'>2010</div></body></html>",
    )
    matches = Sample(page, {"h": "test", "year": "2010"}).get_matches()
    assert len(matches) == 2
    assert all(isinstance(m, DictMatch) for m in matches)


def test_get_matches_list_basic():
    page = SamplePage(
        "p",
        "<html><body><ul>"
        + "".join(f"<li>{i}</li>" for i in [1, 2, 2, 4])
        + "</ul></body></html>",
    )
    matches = Sample(page, ["1", "2", "2", "4"]).get_matches()
    assert matches
    assert all(isinstance(m, ListMatch) for m in matches)


def test_get_matches_list_of_dicts():
    # test_samples.py:59-69: exactly one disjoint combination
    page = SamplePage(
        "p",
        "<html><body>"
        '<div><p class="title">Herr</p><p class="name">Lorey</p></div>'
        '<div><p class="title">Frau</p><p class="name">Müller</p></div>'
        "</body></html>",
    )
    matches = Sample(
        page,
        [{"title": "Herr", "name": "Lorey"}, {"title": "Frau", "name": "Müller"}],
    ).get_matches()
    assert len(matches) == 1
    match = matches[0]
    assert isinstance(match, ListMatch)
    assert len(match.matches) == 2
    assert all(isinstance(m, DictMatch) for m in match.matches)


def test_get_matches_missing_value_raises():
    """A value the page's value index holds nowhere — not as an own text,
    not as an attribute value — has no match; so has one only held by
    'class' or a dimension attribute."""
    page = SamplePage("p", b'<html><body><p class="x">a</p><img width="9"></body></html>')
    for value in ["zzz", "x", "9", ["a", "zzz"], {"k": "zzz"}]:
        with pytest.raises(NoMatchFoundException):
            Sample(page, value).get_matches()
    assert len(Sample(page, "a").get_matches()) == 3  # p, body, html
