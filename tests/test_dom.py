"""DOM + CSS engine semantics, ported from /root/reference/tests/test_html.py."""
from mlscraper_spark.dom.css import PageDOM, parse_selector
from mlscraper_spark.dom.parser import parse_html
from mlscraper_spark.training.matches import (
    PAGE_ROOT,
    get_relative_depth,
    get_root_node,
)
from tests.conftest import SO_ITEM, reference_fixture


def _dom(html) -> PageDOM:
    return PageDOM(parse_html(html))


def test_get_root_node():
    # test_html.py:8-14
    dom = _dom(
        b'<html><body><div><p id="one"></p><p><span id="two"></span></p></div></body></html>'
    )
    n1 = dom.select(PAGE_ROOT, "#one")[0]
    n2 = dom.select(PAGE_ROOT, "#two")[0]
    assert get_root_node(dom, [n1, n2]) == dom.select(PAGE_ROOT, "div")[0]


def test_ancestors_nearest_first():
    # test_html.py:24-30: first ancestor is the parent; chain ends at the top
    dom = _dom(
        b'<html><body><div><p id="one"></p></div></body></html>'
    )
    one = dom.node(dom.select(PAGE_ROOT, "#one")[0])
    assert one.ancestor_ids[0] == one.parent_id
    assert dom.node(one.ancestor_ids[-1]).tag == "html"


def test_select_stackoverflow_votes():
    # test_html.py:41-44
    dom = _dom(reference_fixture("so.html"))
    nodes = dom.select(PAGE_ROOT, ".answer .js-vote-count")
    assert [dom.text(n) for n in nodes] == ["20", "16", "0"]


def test_select_multiple():
    dom = _dom(b"<html><body><p></p><p></p></body></html>")
    assert len(dom.select(PAGE_ROOT, "p")) == 2


def test_tag_and_classes():
    dom = _dom(b'<html><body><p class="box bordered">bla</p></body></html>')
    rec = dom.node(dom.select(PAGE_ROOT, "p")[0])
    assert rec.tag == "p"
    assert rec.classes == ["box", "bordered"]


def test_select_order_is_document_order():
    dom = _dom(b"<html><body><div><span>1</span></div><span>2</span></body></html>")
    hits = dom.select(PAGE_ROOT, "span")
    assert [dom.text(h) for h in hits] == ["1", "2"]


def test_child_combinator():
    dom = _dom(b"<html><body><div><p>in</p></div><p>out</p></body></html>")
    hits = dom.select(PAGE_ROOT, "body > p")
    assert [dom.text(h) for h in hits] == ["out"]


def test_scoped_select_excludes_root():
    dom = _dom(b"<html><body><div id='a'><div>inner</div></div></body></html>")
    a = dom.select(PAGE_ROOT, "#a")[0]
    hits = dom.select(a, "div")
    assert hits and a not in hits


def test_nth_child_semantics():
    dom = _dom(
        b"<html><body><ul><li>t</li><li>n</li></ul><ul><li>t</li><li>n</li></ul></body></html>"
    )
    hits = dom.select(PAGE_ROOT, "li:nth-child(1)")
    assert [dom.text(h) for h in hits] == ["t", "t"]


def test_get_relative_depth():
    # test_html.py:106-112
    dom = _dom(b"<html><body><p>bla karl bla</p></body></html>")
    p = dom.select(PAGE_ROOT, "p")[0]
    body = dom.node(p).parent_id
    html_id = dom.node(body).parent_id
    assert get_relative_depth(dom, p, p) == 0
    assert get_relative_depth(dom, p, body) == 1
    assert get_relative_depth(dom, p, html_id) == 2


def test_selector_parse_attr_with_space():
    chain = parse_selector('div[data-x="a b"] > p.cls')
    assert len(chain) == 2
    assert chain[1][0] == ">"


def test_limit_early_exit():
    dom = _dom(b"<html><body><p>1</p><p>2</p><p>3</p></body></html>")
    assert len(dom.select(PAGE_ROOT, "p", limit=2)) == 2
    # full select after a limited one must not be poisoned by the cache
    assert len(dom.select(PAGE_ROOT, "p")) == 3


def test_content_outside_html_kept():
    # lxml's recovery parser keeps stray top-level content; so do we
    recs = parse_html(b"<div>OUTSIDE</div><html><body><p>IN</p></body></html>")
    texts = [r.text for r in recs if r.tag == "div"]
    assert texts == ["OUTSIDE"]


def test_text_anc_ids_equals_join_definition():
    """The parser's P2 precompute (r6) must equal the join-based
    definition it replaced: for every node, the ancestors (nearest first)
    whose stripped subtree text equals the node's — and it must be
    opt-in (default parses skip the post-pass).  Checked on a small page,
    on every page of a synthetic web and on the quotes fixtures; the
    parser stops at the first ancestor whose text differs, so these pages
    must hold chains that end below the root."""
    from mlscraper_spark.crawl.synthweb import WebConfig, fetch
    from mlscraper_spark.fixtures import QUOTES_AUTHORS, quotes_author_page

    html = (
        b"<html><body><div><p>wrapped</p></div>"
        b"<section><span>a</span><span>b</span></section></body></html>"
    )
    # a chain of three wrappers, whitespace between them, that ends below
    # the root
    deep = (b"<html><body><div> <section>\n<article> <p>deep</p> </article>"
            b"</section> </div><span>x</span></body></html>")
    web = WebConfig(n_hosts=6, max_pages_per_host=20, enable_aliases=True)
    pages = [html, deep] + [quotes_author_page(a) for a in QUOTES_AUTHORS] + [
        fetch(f"http://{web.host_name(i)}/page/{j}", web)[1]
        for i in range(web.n_hosts) for j in range(web.n_pages(i))
    ]
    n_cut, longest = 0, 0
    for page in pages:
        recs = parse_html(page, text_ancestors=True)
        by_id = {r.node_id: r for r in recs}
        for r in recs:
            expected = [a for a in r.ancestor_ids if by_id[a].text == r.text]
            assert r.text_anc_ids == expected, (r.tag, r.node_id)
            n_cut += 0 < len(expected) < len(r.ancestor_ids)
            longest = max(longest, len(expected))
    assert len(pages) > 50 and n_cut > len(pages) and longest == 3
    recs = parse_html(html, text_ancestors=True)
    # the <p> promotes to its div wrapper (identical text); body/html
    # also contain the section's text, so promotion stops there
    p = next(r for r in recs if r.tag == "p")
    div = next(r for r in recs if r.tag == "div")
    assert p.text_anc_ids == [div.node_id]
    # spans share a parent whose text differs -> no promotion
    for r in recs:
        if r.tag == "span":
            assert r.text_anc_ids == []
    # default parse skips the post-pass entirely
    assert all(r.text_anc_ids == [] for r in parse_html(html))
