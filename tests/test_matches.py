"""Match-scan + extractor semantics, ported from the reference's
tests/test_html.py (find_all cases) and tests/test_matches.py."""
import pytest

from mlscraper_spark.dom.css import PageDOM
from mlscraper_spark.dom.parser import parse_html
from mlscraper_spark.training.matches import (
    PAGE_ROOT,
    TEXT_EXTRACTOR,
    ValueMatch,
    attr_extractor,
    extract_value,
    is_dimensions_match,
    scan_value_matches,
)
from tests.conftest import CRAFTED_SCAN_PAGE, SCAN_CORPORA, page_values, scan_corpus


def _dom(html):
    return PageDOM(parse_html(html))


def test_find_text_with_whitespace():
    # test_html.py:96-103: p, body, html all match; the Page does not
    dom = _dom(b"<html><body><p>    whitespace  \n\t </p></body></html>")
    matches = scan_value_matches("p", dom, "whitespace")
    assert len(matches) == 3
    assert {dom.node(m.node_id).tag for m in matches} == {"p", "body", "html"}
    assert all(m.extractor == TEXT_EXTRACTOR for m in matches)


def test_find_all_with_noise_no_text_match():
    # test_html.py:51-57: substring inside noise must NOT match
    dom = _dom(b"<html><body><p>bla karl bla</p></body></html>")
    matches = scan_value_matches("p", dom, "karl")
    assert all(m.extractor != TEXT_EXTRACTOR for m in matches)
    assert not matches


def test_find_all_stackoverflow_href(spark=None):
    from tests.conftest import reference_fixture

    dom = _dom(reference_fixture("so.html"))
    matches = scan_value_matches("so", dom, "/users/624900/jterrace")
    assert matches
    assert any(m.extractor == attr_extractor("href") for m in matches)


def test_is_dimensions_match():
    # test_matches.py:8-19
    dom = _dom(b'<html><body><img height="20" width="20"></body></html>')
    unfiltered = scan_value_matches("p", dom, "20")
    assert unfiltered
    assert not [m for m in unfiltered if not is_dimensions_match(m)]


def test_attribute_extractor():
    # test_matches.py:22-30: missing attribute extracts None
    dom = _dom(
        b'<html><body><a href="https://karllorey.com"></a><a>no link</a></body></html>'
    )
    a_tags = dom.select(PAGE_ROOT, "a")
    ext = attr_extractor("href")
    assert extract_value(dom, a_tags[0], ext) == "https://karllorey.com"
    assert extract_value(dom, a_tags[1], ext) is None


def test_extractor_equality():
    # test_matches.py:33-39: extractor identity drives consensus
    assert attr_extractor("href") == attr_extractor("href")
    assert len({attr_extractor("href"), attr_extractor("href")}) == 1
    assert attr_extractor("href") != TEXT_EXTRACTOR


def test_class_attr_never_text_matches_attribute():
    # bs4 multi-valued attrs compare list-vs-str: class never attr-matches
    dom = _dom(b'<html><body><p class="x">y</p></body></html>')
    assert not [
        m for m in scan_value_matches("p", dom, "x") if m.extractor[0] == "attr"
    ]


def test_similarity_prefers_same_structure():
    from mlscraper_spark.training.matches import node_similarity

    dom = _dom(
        b'<html><body><p class="a">1</p><p class="a">2</p><div class="a">3</div></body></html>'
    )
    p1, p2 = dom.select(PAGE_ROOT, "p")
    d = dom.select(PAGE_ROOT, "div")[0]
    assert node_similarity(dom, p1, dom, p2) == 1.0
    assert node_similarity(dom, p1, dom, d) == 0.0  # tag mismatch


def _nested_loop_scan(dom, value):
    """The match scan's definition, one pass over the page per value:
    text hits in document order, each followed by its equal-text
    ancestors nearest first, then attribute hits in document order and
    attr name ('class'/'rel' never match)."""
    out = []
    for rec in dom.records:
        if value in rec.own_texts:
            out.append((rec.node_id, TEXT_EXTRACTOR))
            for aid in rec.ancestor_ids:
                if dom.node(aid).text == rec.text:
                    out.append((aid, TEXT_EXTRACTOR))
    for rec in dom.records:
        for attr in sorted(rec.attrs):
            if attr not in ("class", "rel") and rec.attrs[attr] == value:
                out.append((rec.node_id, attr_extractor(attr)))
    return out


@pytest.mark.parametrize("corpus", SCAN_CORPORA)
def test_indexed_scan_equals_nested_loop(corpus):
    """``scan_value_matches`` probes the page's value index; its output
    must equal the nested-loop definition, in the same order, for every
    own text and attribute value of every page of the corpus."""
    n_values = n_hits = 0
    for key, html in scan_corpus(corpus):
        dom = _dom(html)
        for v in page_values(dom.records):
            got = [(m.node_id, m.extractor) for m in scan_value_matches(key, dom, v)]
            assert got == _nested_loop_scan(dom, v), (key, v)
            n_values += 1
            n_hits += len(got)
    assert n_values and n_hits


def test_indexed_scan_edge_cases():
    dom = _dom(CRAFTED_SCAN_PAGE)
    got = [(dom.node(m.node_id).tag, m.extractor)
           for m in scan_value_matches("c", dom, "v")]
    # <p> once although its own texts repeat "v"; its wrapper chain stops
    # below <body>; class/rel never match, width does (the dimensions
    # filter is Sample.get_matches's job), then href and src
    assert got == [
        ("p", TEXT_EXTRACTOR), ("section", TEXT_EXTRACTOR), ("div", TEXT_EXTRACTOR),
        ("a", attr_extractor("href")),
        ("img", attr_extractor("src")), ("img", attr_extractor("width")),
    ]
    assert scan_value_matches("c", dom, "v k") == []
