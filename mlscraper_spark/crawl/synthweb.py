"""Deterministic synthetic web — the fetch stage's data source (S4).

The reference's only network I/O is ``requests.get`` in an example script
(``/root/reference/examples/quotes_to_scrape.py:16``); tests must not touch
the network, so fetching is a *pure function of the canonical URL*: same
URL → same bytes, on any executor, in any epoch.  That purity is what makes
the distributed crawl's bit-for-bit equivalence with the sequential oracle
testable (BASELINE.json north_rule).

Structure per page: an author block (quotes.toscrape shape, so trained
scraper plans run against crawled pages), <img> tags with captions + w/h
attributes (the image payload of input_hint), and <a> links — including
deliberately non-canonical hrefs (uppercase hosts, fragments, unsorted
query params) to exercise F11 canonicalization.

Host page counts follow a Zipf-ish law so a few hosts are heavy — this is
the skew the host-bucketed partitioning must absorb.
"""
from __future__ import annotations

import re
from dataclasses import dataclass
from html import unescape as _unescape
from urllib.parse import urlsplit

from mlscraper_spark.crawl.urlnorm import xxhash64

_FIRST = ["Ada", "Grace", "Alan", "Edsger", "Barbara", "Donald", "John", "Margaret"]
_LAST = ["Lovelace", "Hopper", "Turing", "Dijkstra", "Liskov", "Knuth", "Backus"]
_MONTHS = ["January", "March", "May", "July", "September", "November"]


def _h(*parts) -> int:
    return xxhash64(":".join(str(p) for p in parts).encode()) & 0x7FFFFFFFFFFFFFFF


@dataclass(frozen=True)
class WebConfig:
    n_hosts: int = 12
    max_pages_per_host: int = 40
    links_per_page: int = 3
    images_per_page: int = 2
    enable_aliases: bool = False  # redirect aliases: roughly 1-in-5
    # links point at /old/{j}, which 301-redirects to /page/{j} (the
    # moved-permanently shape real crawls hit constantly).  0 = off, and
    # every link/page is byte-identical to the pre-redirect web, so
    # existing oracle-equivalence fixtures are untouched.

    def host_name(self, i: int) -> str:
        return f"host{i}.test"

    def n_pages(self, i: int) -> int:
        # Zipf-ish skew: host0 heaviest
        return max(2, int(self.max_pages_per_host / (i + 1) ** 0.8))

    def seeds(self, n: int = 4) -> list[str]:
        return [f"http://{self.host_name(i)}/page/0" for i in range(min(n, self.n_hosts))]

    def robots_disallow(self, host: str) -> list[str]:
        """Hosts with index ≡ 2 (mod 5) disallow /private/.

        The spec is a REGEX on purpose: SynthWebAdapter.robots_col mirrors
        it as a Catalyst expression (the JVM fast path for the per-host
        robots stage), and a regex both runtimes implement identically is
        what makes "python == JVM for every host string" provable
        (tests/test_crawl.py pins it).  [\\s\\S] instead of '.' because
        Java's '.' excludes \\r where Python's does not; {1,18} keeps the
        index inside bigint so the JVM cast can't overflow-diverge."""
        m = re.fullmatch(r"host([0-9]{1,18})(?:\.[\s\S]*)?", host)
        return ["/private/"] if m and int(m.group(1)) % 5 == 2 else []


def author_for(i: int, j: int) -> dict:
    h = _h("author", i, j)
    name = f"{_FIRST[h % len(_FIRST)]} {_LAST[(h >> 8) % len(_LAST)]}"
    born = f"{_MONTHS[(h >> 16) % len(_MONTHS)]} {1 + (h >> 24) % 28}, {1900 + (h >> 32) % 90}"
    return {"name": name, "born": born}


def captions_for(i: int, j: int, cfg: WebConfig) -> list[dict]:
    out = []
    for k in range(cfg.images_per_page):
        h = _h("img", i, j, k)
        out.append(
            {
                "image_id": f"img-{i}-{j}-{k}",
                "caption": f"figure {k} of page {j} on {cfg.host_name(i)} ({h % 997})",
                "w": 32 + (h % 7) * 16,
                "h": 32 + ((h >> 8) % 5) * 16,
                "src": f"/img/{i}/{j}/{k}.ppm",
            }
        )
    return out


def links_for(i: int, j: int, cfg: WebConfig) -> list[str]:
    """Raw (possibly non-canonical) hrefs on page (i, j)."""
    links = []
    n_pages = cfg.n_pages(i)
    for k in range(cfg.links_per_page):
        h = _h("link", i, j, k)
        kind = h % 4
        if cfg.enable_aliases and h % 5 == 4:  # stale bookmark → 301 alias
            links.append(f"http://{cfg.host_name(i)}/old/{(h >> 8) % n_pages}")
        elif kind == 0:  # same-host, canonical
            links.append(f"http://{cfg.host_name(i)}/page/{(j + 1 + h % n_pages) % n_pages}")
        elif kind == 1:  # same-host, non-canonical (uppercase + fragment)
            links.append(
                f"http://{cfg.host_name(i).upper()}/page/{(h >> 8) % n_pages}#frag{k}"
            )
        elif kind == 2:  # cross-host with unsorted query
            ti = (i + 1 + (h >> 16) % 3) % cfg.n_hosts
            tj = (h >> 24) % cfg.n_pages(ti)
            links.append(f"http://{cfg.host_name(ti)}/page/{tj}?z=1&a=2")
        else:  # occasionally a robots-disallowed private page
            ti = (i + (h >> 16) % cfg.n_hosts) % cfg.n_hosts
            links.append(f"http://{cfg.host_name(ti)}/private/{(h >> 24) % 5}")
    return links


def parse_page_url(url_canon: str, cfg: WebConfig):
    """→ (host_index, page_index) or None when the URL 404s."""
    parts = urlsplit(url_canon)
    host = parts.hostname or ""
    if not (host.startswith("host") and host.endswith(".test")):
        return None
    try:
        i = int(host[4:-5])
    except ValueError:
        return None
    if not (0 <= i < cfg.n_hosts):
        return None
    segs = [s for s in parts.path.split("/") if s]
    if len(segs) == 2 and segs[0] == "page":
        try:
            j = int(segs[1])
        except ValueError:
            return None
        if 0 <= j < cfg.n_pages(i):
            return (i, j)
    if len(segs) == 2 and segs[0] == "private":
        # exists but robots-disallowed; fetchable if robots ignored
        try:
            return (i, 10_000 + int(segs[1]))
        except ValueError:
            return None
    return None


def redirect_of(url_canon: str, cfg: WebConfig) -> str | None:
    """Canonical target when the URL is a 301 alias (/old/{j} →
    /page/{j}), else None.  Pure function of the URL, like fetch."""
    if not cfg.enable_aliases:
        return None
    parts = urlsplit(url_canon)
    host = parts.hostname or ""
    if not (host.startswith("host") and host.endswith(".test")):
        return None
    try:
        i = int(host[4:-5])
    except ValueError:
        return None
    if not (0 <= i < cfg.n_hosts):
        return None
    segs = [s for s in parts.path.split("/") if s]
    if len(segs) == 2 and segs[0] == "old":
        try:
            j = int(segs[1])
        except ValueError:
            return None
        if 0 <= j < cfg.n_pages(i):
            return f"http://{cfg.host_name(i)}/page/{j}"
    return None


# frontier-path link/image scanner: compiled byte-regexes instead of a
# full DOM parse — the standard crawler fast path (the payload extractors
# in images/ops.py keep the full parser; only frontier discovery uses
# this).  Scans double-quoted hrefs only (``fetch`` always emits
# href="..."), decoding utf-8-with-replace and entity-unescaping each
# captured value, so on the crawl corpus it returns EXACTLY what the DOM
# parser's fetchers.parse_links_and_images returns — pinned by
# tests/test_crawl.py::test_link_scanner_matches_parser.
# response_meta's callers (engine fetch UDF + sequential oracle) only ever
# feed it synthweb pages; HTML from any other producer must go through the
# DOM parser instead — single-quoted/unquoted hrefs would be silently
# dropped here.
_HREF_RE = re.compile(rb'<a\s[^>]*?href\s*=\s*"([^"]*)"', re.IGNORECASE | re.DOTALL)
_IMG_RE = re.compile(rb"<img[\s/>]", re.IGNORECASE)


def response_meta(url_canon: str, status: int, html: bytes,
                  cfg: WebConfig) -> tuple[list[str], int]:
    """(outgoing raw hrefs, image count) of a fetch response — 200 pages
    link via their anchors (regex fast path above), 301 responses 'link'
    to their Location target (followed through the ordinary discovery
    pipeline: canonicalize → trap guard → robots → seen-check, at
    depth+1).  ONE code path shared by the sequential oracle and the
    engine's Arrow fetch stage, so the semantics cannot diverge.
    Profiling: the previous two full DOM parses per page were 54% of
    epoch wall time; the fused parse cut that 40%, and the regex scan
    removes most of the remainder."""
    if status == 200:
        links = [
            _unescape(m.decode("utf-8", "replace"))
            for m in _HREF_RE.findall(html)
        ]
        return links, len(_IMG_RE.findall(html))
    if status == 301:
        target = redirect_of(url_canon, cfg)
        return ([target] if target is not None else []), 0
    return [], 0


def fetch(url_canon: str, cfg: WebConfig) -> tuple[int, bytes]:
    """(status, html) — pure function of the canonical URL."""
    target = redirect_of(url_canon, cfg)
    if target is not None:
        return 301, b""
    loc = parse_page_url(url_canon, cfg)
    if loc is None:
        return 404, b"<html><body><h1>404</h1></body></html>"
    i, j = loc
    author = author_for(i, j)
    imgs = captions_for(i, j, cfg)
    links = links_for(i, j, cfg) if j < 10_000 else []
    img_html = "".join(
        f'<figure><img src="{im["src"]}" alt="{im["caption"]}" '
        f'width="{im["w"]}" height="{im["h"]}">'
        f'<figcaption class="caption">{im["caption"]}</figcaption></figure>'
        for im in imgs
    )
    link_html = "".join(
        f'<li><a href="{href}">link {k}</a></li>' for k, href in enumerate(links)
    )
    html = (
        "<html><head><title>page</title></head><body>"
        '<div class="author-details">'
        f'<h3 class="author-title">{author["name"]}</h3>'
        f'<p>Born: <span class="author-born-date">{author["born"]}</span></p>'
        "</div>"
        f'<div class="gallery">{img_html}</div>'
        f'<ul class="nav">{link_html}</ul>'
        "</body></html>"
    )
    return 200, html.encode()


def _dim(value) -> int:
    """Defensive dimension parse: real-web width/height attrs carry '100%',
    '', 'auto', ... — one malformed page must not fail a whole Spark task."""
    try:
        return int(value)
    except (TypeError, ValueError):
        return 0


def image_meta(records: list) -> list[dict]:
    """Document-order (src, caption, w, h) from the <img> records of an
    already-parsed page (``dom.parser.parse_html`` output)."""
    return [
        {
            "src": r.attrs.get("src", ""),
            "caption": r.attrs.get("alt", ""),
            "w": _dim(r.attrs.get("width", 0)),
            "h": _dim(r.attrs.get("height", 0)),
        }
        for r in records
        if r.tag == "img"
    ]


def extract_images(html: bytes) -> list[dict]:
    """Document-order (src, caption, w, h) from <img> tags."""
    from mlscraper_spark.dom.parser import parse_html

    return image_meta(parse_html(html))
