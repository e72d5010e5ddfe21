"""Match algebra: occurrences of sample values in a DOM.

Re-expression of ``/root/reference/mlscraper/matches.py`` over flat node
records.  This layer runs on the *driver*: ``scan_value_matches`` finds the
raw matches of a sample value on a sample page, and the rest combines and
scores the pruned match sets (reference keeps ≤100 per sample,
``training.py:48-51``).  Page identity is a ``page_key`` string; node
identity is the preorder ``node_id`` (replaces soup-pointer interning,
``html.py:204-207``).
"""
from __future__ import annotations

from itertools import product
from statistics import mean

from mlscraper_spark.dom.css import PageDOM
from mlscraper_spark.dom.parser import is_supported_class

PAGE_ROOT = -1  # stands in for the reference's Page node (html.py:182-211)

# extractor encodings (matches.py:70-112)
TEXT_EXTRACTOR = ("text",)


def attr_extractor(attr: str) -> tuple:
    return ("attr", attr)


def extract_value(dom: PageDOM, node_id: int, extractor: tuple) -> str | None:
    """Apply an extractor to a node (matches.py:75-76, :101-103)."""
    rec = dom.node(node_id)
    if extractor[0] == "text":
        return rec.text  # stored pre-stripped == soup.text.strip()
    return rec.attrs.get(extractor[1])


def node_similarity(dom1: PageDOM, id1: int, dom2: PageDOM, id2: int,
                    depth: int = 3) -> float:
    """Recursive tag/class Jaccard similarity (html.py:252-271).

    ``id = PAGE_ROOT`` models the reference's Page pseudo-node
    (tag '[document]', no classes, no parent).
    """
    if depth < 1:
        return 0.0
    if id1 == PAGE_ROOT or id2 == PAGE_ROOT:
        if id1 != id2:
            return 0.0  # '[document]' vs a real tag: tag mismatch
        return 1.0  # both documents: empty class sets -> 1, no parent
    r1, r2 = dom1.node(id1), dom2.node(id2)
    if r1.tag != r2.tag:
        return 0.0
    c1 = {c for c in r1.classes if is_supported_class(c)}
    c2 = {c for c in r2.classes if is_supported_class(c)}
    inter, union = len(c1 & c2), len(c1 | c2)
    if inter == union:
        return 1.0  # early return, no parent blending; includes 0/0
        # (html.py:262-263)
    jac = inter / union
    p1 = r1.parent_id if r1.parent_id >= 0 else PAGE_ROOT
    p2 = r2.parent_id if r2.parent_id >= 0 else PAGE_ROOT
    # reference recurses iff both parents truthy; Page.parent is None, but a
    # node whose parent is the Page recurses INTO the Page (html.py:267-268)
    jac = 0.8 * jac + 0.2 * node_similarity(dom1, p1, dom2, p2, depth - 1)
    return jac


def get_root_node(dom: PageDOM, node_ids: list[int]) -> int:
    """Lowest common ancestor of nodes on one page (html.py:214-228).

    Paths include the Page pseudo-root, so disjoint subtrees root at
    PAGE_ROOT ... except the reference raises only if even Page differs
    (impossible same-page), so a result always exists.
    """
    paths = []
    for nid in node_ids:
        rec = dom.node(nid)
        paths.append([PAGE_ROOT] + list(reversed(rec.ancestor_ids)) + [nid])
    best = PAGE_ROOT
    for layer in zip(*paths):
        if all(x == layer[0] for x in layer):
            best = layer[0]
        else:
            break
    return best


def get_relative_depth(dom: PageDOM, node_id: int, root_id: int) -> int:
    """Depth of node below root (html.py:231-238)."""
    if node_id == root_id:
        return 0
    node_depth = -1 if node_id == PAGE_ROOT else dom.node(node_id).depth
    root_depth = -1 if root_id == PAGE_ROOT else dom.node(root_id).depth
    return node_depth - root_depth


def has_ancestor(dom: PageDOM, node_id: int, maybe_anc: int) -> bool:
    """Strict-ancestor test (html.py:108-117); Page is ancestor of all."""
    if node_id == PAGE_ROOT:
        return False
    if maybe_anc == PAGE_ROOT:
        return True
    return maybe_anc in dom.node(node_id).ancestor_ids


class Match:
    page_key: str

    @property
    def root(self) -> int:
        raise NotImplementedError

    def dom(self) -> PageDOM:
        raise NotImplementedError


class ValueMatch(Match):
    """matches.py:173-198"""

    def __init__(self, page_key: str, dom: PageDOM, node_id: int, extractor: tuple):
        self.page_key = page_key
        self._dom = dom
        self.node_id = node_id
        self.extractor = extractor

    def dom(self) -> PageDOM:
        return self._dom

    @property
    def root(self) -> int:
        return self.node_id

    @property
    def span(self) -> int:
        return 0  # matches.py:188-190

    def similarity_to(self, other: "ValueMatch") -> float:
        if self.extractor != other.extractor:
            return 0.0  # matches.py:195-196
        return node_similarity(self._dom, self.node_id, other._dom, other.node_id)

    def __repr__(self):
        return f"<ValueMatch {self.page_key}#{self.node_id} {self.extractor}>"


class DictMatch(Match):
    """matches.py:115-145"""

    def __init__(self, page_key: str, dom: PageDOM, match_by_key: dict):
        self.page_key = page_key
        self._dom = dom
        self.match_by_key = match_by_key
        self._root: int | None = None

    def dom(self) -> PageDOM:
        return self._dom

    @property
    def root(self) -> int:
        if self._root is None:
            self._root = get_root_node(
                self._dom, [m.root for m in self.match_by_key.values()]
            )
        return self._root

    @property
    def span(self) -> int:
        return sum(
            m.span + get_relative_depth(self._dom, m.root, self.root)
            for m in self.match_by_key.values()
        )

    def similarity_to(self, other: "DictMatch") -> float:
        keys = set(self.match_by_key) & set(other.match_by_key)
        if not keys:
            # reference crashes here (mean of empty, matches.py:136-142);
            # disjoint key sets are reachable via DictItem.add_sample, so
            # treat them as maximally dissimilar instead of failing the job
            return 0.0
        return mean(
            self.match_by_key[k].similarity_to(other.match_by_key[k]) for k in keys
        )

    def __repr__(self):
        return f"<DictMatch {self.match_by_key}>"


class ListMatch(Match):
    """matches.py:148-170"""

    def __init__(self, page_key: str, dom: PageDOM, matches: tuple):
        self.page_key = page_key
        self._dom = dom
        self.matches = matches
        self._root: int | None = None

    def dom(self) -> PageDOM:
        return self._dom

    @property
    def root(self) -> int:
        if self._root is None:
            self._root = get_root_node(self._dom, [m.root for m in self.matches])
        return self._root

    @property
    def span(self) -> int:
        return sum(
            get_relative_depth(self._dom, m.root, self.root) + m.span
            for m in self.matches
        )

    def similarity_to(self, other: "ListMatch") -> float:
        return mean(
            a.similarity_to(b) for a, b in product(self.matches, other.matches)
        )

    def __repr__(self):
        return f"<ListMatch {self.matches}>"


def is_disjoint_match_combination(matches) -> bool:
    """No two matches overlap (matches.py:31-40, 220-224): matches on
    different pages never do; on one page two overlap when their roots are
    equal or one is an ancestor of the other (the page root is an ancestor
    of every node).  Sorted by preorder id, each root's subtree is the id
    range (root, subtree_end[root]), so if any root contains a later one it
    contains the next one: only adjacent roots need a test."""
    by_page: dict[str, list[Match]] = {}
    for m in matches:
        by_page.setdefault(m.page_key, []).append(m)
    for ms in by_page.values():
        roots = sorted(m.root for m in ms)
        if len(roots) > 1 and roots[0] == PAGE_ROOT:
            return False
        end = ms[0].dom().subtree_end
        # a repeated root a == b also fails: subtree_end[a] > a
        if any(b < end[a] for a, b in zip(roots, roots[1:])):
            return False
    return True


def is_dimensions_match(m: Match) -> bool:
    """width/height attribute hits are never values (matches.py:227-234)."""
    return (
        isinstance(m, ValueMatch)
        and m.extractor[0] == "attr"
        and m.extractor[1] in ("width", "height")
    )


def scan_value_matches(page_key: str, dom: PageDOM, value: str) -> list[ValueMatch]:
    """Local (single-page) match scan — P1+P2+P3 of SURVEY.md §2.2.

    Semantics of ``Node.find_all`` (html.py:84-104):
      * a tag matches if any *direct text child*, stripped, equals the value
        (the reference's anchored regex ``^\\s*V\\s*$``, html.py:89 — realized
        as trim-equality; regex metacharacter passthrough is not reproduced);
      * every ancestor with identical stripped subtree text also matches
        (html.py:95-97), excluding the Page;
      * any attribute equal to the value matches with an attribute extractor
        (html.py:100-104); 'class'/'rel' excluded (bs4 multi-valued attrs
        compare list-vs-str, never equal).

    Hits are probed in the page's value index (``PageDOM.value_index``):
    text hits in document order, each followed by its equal-text ancestors
    nearest first, then attribute hits in document order and attr name —
    an order q24's distributed scan (operators/matching.py) can observe
    through a MapType column; both scans are tested for agreement.
    """
    texts, attrs = dom.value_index()
    out: list[ValueMatch] = []
    for nid in texts.get(value, ()):
        rec = dom.node(nid)
        out.append(ValueMatch(page_key, dom, nid, TEXT_EXTRACTOR))
        for aid in rec.ancestor_ids:
            if dom.node(aid).text == rec.text:
                out.append(ValueMatch(page_key, dom, aid, TEXT_EXTRACTOR))
    for nid, attr in attrs.get(value, ()):
        out.append(ValueMatch(page_key, dom, nid, attr_extractor(attr)))
    return out
