"""Stdlib HTML parser producing flat, Arrow-friendly node records.

This is the Spark-side replacement for the reference's BeautifulSoup DOM
(``/root/reference/mlscraper/html.py:182-211``): instead of a pointer-linked
soup tree, a page is *exploded* into a flat list of per-element records with
preorder ids and materialized ancestor paths, so the whole DOM becomes rows
of a ``nodes`` DataFrame (SURVEY.md §1.2).  The records are designed so that
all reference match semantics (exact-text match ``html.py:87-97``, attribute
match ``html.py:100-104``, class filtering ``html.py:140-142``) become plain
column predicates.

No bs4/lxml in this environment — parsing uses ``html.parser`` with a small
implicit-close table and html/body wrapping to approximate lxml's recovery
behavior.  Training and inference share this parser, so selector search is
self-consistent.
"""
from __future__ import annotations

import html.parser
from dataclasses import dataclass, field

# dots and slashes break CSS selectors — mirror of reference CLASS_CHAR_BLACKLIST
# (/root/reference/mlscraper/html.py:17-18)
CLASS_CHAR_BLACKLIST = (":", "/")

VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# minimal implicit-close rules (lxml-ish recovery): opening key closes values
_IMPLICIT_CLOSERS = {
    "p": {"p"},
    "li": {"li"},
    "tr": {"tr", "td", "th"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "option": {"option"},
    "dt": {"dt", "dd"},
    "dd": {"dt", "dd"},
}


def is_supported_class(cl: str) -> bool:
    """Classes containing ':' or '/' are unusable in selectors
    (reference ``html.py:248-249``)."""
    return all(c not in cl for c in CLASS_CHAR_BLACKLIST)


@dataclass
class NodeRec:
    """One DOM element, flattened. ``node_id`` is the preorder index."""

    node_id: int
    parent_id: int  # -1 => parent is the document root (the reference's Page)
    tag: str
    attrs: dict[str, str]
    ancestor_ids: list[int]  # nearest first, element ancestors only
    classes: list[str] = field(default_factory=list)  # raw class tokens
    own_texts: list[str] = field(default_factory=list)  # stripped direct text children
    text: str = ""  # full subtree text, stripped
    # ancestors (nearest first) whose stripped subtree text equals this
    # node's — P2 ancestor text-propagation precomputed WHERE THE DOM IS
    # LOCAL (SURVEY §2.2 P2 "or compute during DOM explode in the UDF"),
    # so the match scan's ancestor branch is a plain explode instead of a
    # nodes⋈nodes join (guide §8: use what the optimizer cannot know)
    text_anc_ids: list[int] = field(default_factory=list)
    sibling_index: int = 0  # 1-based position among element siblings (:nth-child)
    depth: int = 0

    @property
    def id_attr(self) -> str | None:
        return self.attrs.get("id")


class _TreeBuilder(html.parser.HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        # each element: [tag, attrs, children(list of int child element ids or
        # ('t', text) tuples)], parent id
        self.elems: list[dict] = []
        self.stack: list[int] = []  # element indices
        self.top_level: list[int | tuple] = []  # children of the document

    def _append_child(self, child) -> None:
        if self.stack:
            self.elems[self.stack[-1]]["children"].append(child)
        else:
            self.top_level.append(child)

    def _open(self, tag: str, attrs) -> int:
        adict: dict[str, str] = {}
        for k, v in attrs:
            if k not in adict:
                adict[k] = v if v is not None else ""
        idx = len(self.elems)
        self.elems.append({"tag": tag, "attrs": adict, "children": []})
        self._append_child(idx)
        return idx

    def handle_starttag(self, tag, attrs):
        closers = _IMPLICIT_CLOSERS.get(tag)
        if closers and self.stack:
            while self.stack and self.elems[self.stack[-1]]["tag"] in closers:
                self.stack.pop()
        idx = self._open(tag, attrs)
        if tag not in VOID_TAGS:
            self.stack.append(idx)

    def handle_startendtag(self, tag, attrs):
        self._open(tag, attrs)

    def handle_endtag(self, tag):
        if tag in VOID_TAGS:
            return
        # pop to the matching open tag; ignore stray end tags
        for i in range(len(self.stack) - 1, -1, -1):
            if self.elems[self.stack[i]]["tag"] == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        if data:
            self._append_child(("t", data))


def _wrap_tree(builder: _TreeBuilder):
    """Ensure an html>body skeleton like lxml's recovery parser."""
    elems = builder.elems
    top = builder.top_level
    html_idx = next(
        (c for c in top if isinstance(c, int) and elems[c]["tag"] == "html"), None
    )
    if html_idx is None:
        body = {"tag": "body", "attrs": {}, "children": list(top)}
        elems.append(body)
        body_idx = len(elems) - 1
        html_el = {"tag": "html", "attrs": {}, "children": [body_idx]}
        elems.append(html_el)
        return [len(elems) - 1]
    # html exists: reparent any stray top-level siblings into it (lxml's
    # recovery parser keeps such content; dropping it would lose matches)
    pre = [c for c in top[: top.index(html_idx)]]
    post = [c for c in top[top.index(html_idx) + 1:]]
    if pre or post:
        elems[html_idx]["children"] = (
            pre + elems[html_idx]["children"] + post
        )
    # ensure a body wraps its non-head/body children
    children = elems[html_idx]["children"]
    if not any(
        isinstance(c, int) and elems[c]["tag"] == "body" for c in children
    ):
        head_like = {"head", "title", "meta", "link", "script", "style", "base"}
        kept, moved = [], []
        for c in children:
            if isinstance(c, int) and elems[c]["tag"] in head_like:
                kept.append(c)
            else:
                moved.append(c)
        body = {"tag": "body", "attrs": {}, "children": moved}
        elems.append(body)
        elems[html_idx]["children"] = kept + [len(elems) - 1]
    return [html_idx]


def parse_html(data: bytes | str, text_ancestors: bool = False) -> list[NodeRec]:
    """Parse HTML into preorder-indexed node records.

    Equivalent role to ``Page.__init__`` + node interning
    (``/root/reference/mlscraper/html.py:189-207``): one record per element,
    identity = preorder index instead of pointer interning.

    ``text_ancestors=True`` additionally fills ``text_anc_ids`` (the P2
    precompute the distributed match scan consumes).  Opt-in because the
    other parse consumers — link/image extraction, plan inference — never
    read it, and the post-pass compares subtree texts (O(text) per
    equal-text wrapper chain), a measurable tax on the fetch→extract hot
    loops that parse millions of pages."""
    if isinstance(data, bytes):
        data = data.decode("utf-8", errors="replace")
    builder = _TreeBuilder()
    try:
        builder.feed(data)
        builder.close()
    except Exception:
        pass  # keep whatever was parsed; recovery parser semantics
    roots = _wrap_tree(builder)
    elems = builder.elems

    records: list[NodeRec] = []

    def walk(eidx: int, parent_rec_id: int, ancestors: list[int], sib_index: int) -> str:
        el = elems[eidx]
        rec_id = len(records)
        attrs = el["attrs"]
        classes = [c for c in attrs.get("class", "").split() if c]
        rec = NodeRec(
            node_id=rec_id,
            parent_id=parent_rec_id,
            tag=el["tag"],
            attrs=attrs,
            ancestor_ids=list(ancestors),
            classes=classes,
            sibling_index=sib_index,
            depth=len(ancestors),
        )
        records.append(rec)
        text_parts: list[str] = []
        child_anc = [rec_id] + ancestors
        elem_pos = 0
        for ch in el["children"]:
            if isinstance(ch, tuple):
                t = ch[1]
                text_parts.append(t)
                ts = t.strip()
                if ts:
                    rec.own_texts.append(ts)
            else:
                elem_pos += 1
                text_parts.append(walk(ch, rec_id, child_anc, elem_pos))
        subtree_text = "".join(text_parts)
        rec.text = subtree_text.strip()
        return subtree_text

    pos = 0
    for r in roots:
        pos += 1
        walk(r, -1, [], pos)
    # P2 precompute (post-pass: ancestor text is only final after walk):
    # ancestors with identical stripped subtree text, nearest first — the
    # same set the former nodes⋈nodes ancestor join produced.  A child's
    # stripped text is a substring of its parent's, so that set is a chain
    # from the node: it ends at the first ancestor whose text differs
    if text_ancestors:
        for rec in records:
            for aid in rec.ancestor_ids:
                if records[aid].text != rec.text:
                    break
                rec.text_anc_ids.append(aid)
    return records
