"""CSS selector engine over flat node records.

Covers the selector grammar the reference *emits* during training
(``/root/reference/mlscraper/selectors.py:159-223``) plus the surface a
user of the reference can feed it by hand — the reference evaluates rules
with soupsieve (``/root/reference/mlscraper/html.py:156-160``,
``selectors.py:41-50``), which accepts full CSS:

    compound   := '*' | [tag] ( '#id' | '.class' | '[attr]'
                  | '[attr <op> value]'              op ∈ = ~= ^= $= *= |=
                  | ':nth-child(An+B|N|odd|even)' | ':nth-of-type(...)'
                  | ':first-child' | ':last-child'
                  | ':first-of-type' | ':last-of-type'
                  | ':not(compound)' )*
    selector   := compound ( ( ' ' | '>' | '+' | '~' ) compound )*

Combinators bind with or without surrounding whitespace (``div>p``,
``li~li``).  Evaluation semantics mirror soupsieve as used by the
reference: ``select(root, rule)`` returns *strict descendants* of ``root``
in document order; ancestor/sibling compounds in a combinator chain may
match nodes outside the scope root (soupsieve behavior); ``:nth-child``
uses the real CSS semantic — position among element siblings.
"""
from __future__ import annotations

import re
from dataclasses import dataclass, field

from mlscraper_spark.dom.parser import NodeRec

_IDENT_RE = re.compile(r"[A-Za-z_][\w\-]*")
_ATTR_OPS = ("~=", "^=", "$=", "*=", "|=", "=")


@dataclass(frozen=True)
class Compound:
    tag: str | None = None  # None = no tag constraint ('*' parses to None)
    id_attr: str | None = None
    classes: tuple[str, ...] = ()
    attrs: tuple[tuple[str, str, str | None], ...] = ()  # (name, op, value);
    # op '' = presence test, value None
    nth_child: tuple[int, int] | None = None  # (a, b) of An+B; plain N = (0, N)
    nth_of_type: tuple[int, int] | None = None
    first_child: bool = False
    last_child: bool = False
    first_of_type: bool = False
    last_of_type: bool = False
    nots: tuple["Compound", ...] = ()


class SelectorParseError(ValueError):
    pass


def _tokenize(rule: str) -> list[str]:
    """Split into compound / combinator tokens.  Whitespace separates;
    ``>``, ``+``, ``~`` are combinator tokens with or without surrounding
    whitespace — but never inside ``[...]`` (attr values may contain
    anything quotable, and ``~=`` lives there) or ``(...)``
    (``:not(...)``, ``:nth-child(2n+1)``)."""
    tokens: list[str] = []
    buf: list[str] = []
    depth_sq = depth_par = 0

    def flush():
        if buf:
            tokens.append("".join(buf))
            buf.clear()

    for ch in rule:
        if ch == "[":
            depth_sq += 1
        elif ch == "]":
            depth_sq -= 1
        elif ch == "(":
            depth_par += 1
        elif ch == ")":
            depth_par -= 1
        if depth_sq == 0 and depth_par == 0:
            if ch.isspace():
                flush()
                continue
            if ch in ">+~":
                flush()
                tokens.append(ch)
                continue
        buf.append(ch)
    flush()
    if depth_sq or depth_par:
        raise SelectorParseError(f"unbalanced brackets in {rule!r}")
    return tokens


class _Scanner:
    def __init__(self, s: str):
        self.s = s
        self.i = 0

    def eof(self) -> bool:
        return self.i >= len(self.s)

    def peek(self) -> str:
        return self.s[self.i] if self.i < len(self.s) else ""

    def ident(self) -> str:
        m = _IDENT_RE.match(self.s, self.i)
        if not m:
            raise SelectorParseError(f"expected identifier at {self.s[self.i:]!r}")
        self.i = m.end()
        return m.group()

    def expect(self, ch: str) -> None:
        if self.peek() != ch:
            raise SelectorParseError(f"expected {ch!r} at {self.s[self.i:]!r}")
        self.i += 1

    def until_balanced_paren(self) -> str:
        """Consume up to (not including) the ')' matching an already-
        consumed '('."""
        depth, start = 1, self.i
        while self.i < len(self.s):
            c = self.s[self.i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    out = self.s[start:self.i]
                    self.i += 1
                    return out
            self.i += 1
        raise SelectorParseError(f"unbalanced '(' in {self.s!r}")


def _parse_nth(arg: str) -> tuple[int, int]:
    """An+B | N | odd | even → (a, b)."""
    a = arg.strip().lower().replace(" ", "")
    if a == "odd":
        return (2, 1)
    if a == "even":
        return (2, 0)
    m = re.fullmatch(r"([+-]?\d*)n([+-]\d+)?", a)
    if m:
        astr = m.group(1)
        aval = int(astr) if astr not in ("", "+", "-") else (-1 if astr == "-" else 1)
        return (aval, int(m.group(2) or 0))
    m = re.fullmatch(r"[+-]?\d+", a)
    if m:
        return (0, int(a))
    raise SelectorParseError(f"cannot parse nth argument {arg!r}")


def _parse_attr(sc: _Scanner) -> tuple[str, str, str | None]:
    name = sc.ident()
    if sc.peek() == "]":
        sc.expect("]")
        return (name, "", None)
    for op in _ATTR_OPS:
        if sc.s.startswith(op, sc.i):
            sc.i += len(op)
            break
    else:
        raise SelectorParseError(f"bad attribute operator at {sc.s[sc.i:]!r}")
    q = sc.peek()
    if q in ("'", '"'):
        sc.i += 1
        end = sc.s.find(q, sc.i)
        if end < 0:
            raise SelectorParseError(f"unterminated attr value in {sc.s!r}")
        value = sc.s[sc.i:end]
        sc.i = end + 1
    else:
        m = re.match(r"[^\]]+", sc.s[sc.i:])
        if not m:
            raise SelectorParseError(f"missing attr value in {sc.s!r}")
        value = m.group()
        sc.i += m.end()
    sc.expect("]")
    return (name, op, value)


_SIMPLE_PSEUDOS = {
    "first-child": "first_child",
    "last-child": "last_child",
    "first-of-type": "first_of_type",
    "last-of-type": "last_of_type",
}


def _parse_compound(token: str) -> Compound:
    sc = _Scanner(token)
    tag: str | None = None
    if sc.peek() == "*":
        sc.i += 1
    elif _IDENT_RE.match(token):
        tag = sc.ident()
    id_attr = None
    classes: list[str] = []
    attrs: list[tuple[str, str, str | None]] = []
    nth_child = nth_of_type = None
    flags = {v: False for v in _SIMPLE_PSEUDOS.values()}
    nots: list[Compound] = []
    saw_part = tag is not None or token.startswith("*")
    while not sc.eof():
        ch = sc.peek()
        if ch == "#":
            sc.i += 1
            id_attr = sc.ident()
        elif ch == ".":
            sc.i += 1
            classes.append(sc.ident())
        elif ch == "[":
            sc.i += 1
            attrs.append(_parse_attr(sc))
        elif ch == ":":
            sc.i += 1
            name = sc.ident().lower()
            if name in _SIMPLE_PSEUDOS:
                flags[_SIMPLE_PSEUDOS[name]] = True
            elif name in ("nth-child", "nth-of-type"):
                sc.expect("(")
                arg = sc.until_balanced_paren()
                if name == "nth-child":
                    nth_child = _parse_nth(arg)
                else:
                    nth_of_type = _parse_nth(arg)
            elif name == "not":
                sc.expect("(")
                inner = sc.until_balanced_paren().strip()
                nots.append(_parse_compound(inner))
            else:
                raise SelectorParseError(f"unsupported pseudo-class :{name}")
        else:
            raise SelectorParseError(f"cannot parse compound: {token!r}")
        saw_part = True
    if not saw_part:
        raise SelectorParseError(f"empty compound in {token!r}")
    return Compound(tag, id_attr, tuple(classes), tuple(attrs),
                    nth_child, nth_of_type, nots=tuple(nots), **flags)


def parse_selector(rule: str) -> list[tuple[str, Compound]]:
    """Parse into [(combinator, compound), ...]; first combinator is ''.

    Combinators: ' ' (descendant), '>' (child), '+' (adjacent sibling),
    '~' (general sibling)."""
    tokens = _tokenize(rule)
    out: list[tuple[str, Compound]] = []
    comb = ""
    for tok in tokens:
        if tok in (">", "+", "~"):
            if comb != " " or not out:
                raise SelectorParseError(f"misplaced {tok!r} in {rule!r}")
            comb = tok
            continue
        out.append((comb, _parse_compound(tok)))
        comb = " "
    if not out:
        raise SelectorParseError(f"empty selector: {rule!r}")
    if comb != " ":
        raise SelectorParseError(f"dangling combinator in {rule!r}")
    return out


def _nth_matches(ab: tuple[int, int], idx: int) -> bool:
    a, b = ab
    if a == 0:
        return idx == b
    n, r = divmod(idx - b, a)
    return r == 0 and n >= 0


class PageDOM:
    """Random-access DOM view over a page's node records.

    Built once per page inside an Arrow UDF batch (or on the driver during
    training) — plays the role of the reference's interned soup
    (``html.py:187-207``) with ids instead of pointers.
    """

    def __init__(self, records: list[NodeRec]):
        self.records = records
        self._selector_cache: dict[tuple[int, str], list[int]] = {}
        self._children: dict[int, list[int]] | None = None
        self._value_index: tuple[dict, dict] | None = None
        # preorder => subtree of node i is the contiguous id range
        # (i, subtree_end[i]); computed in one scan with a stack of open nodes
        n = len(records)
        end = [n] * n
        stack: list[int] = []
        for i, r in enumerate(records):
            while stack and records[stack[-1]].depth >= r.depth:
                end[stack.pop()] = i
            stack.append(i)
        self.subtree_end = end

    def __len__(self) -> int:
        return len(self.records)

    def node(self, node_id: int) -> NodeRec:
        return self.records[node_id]

    def children_of(self, parent_id: int) -> list[int]:
        """Element children in document order (lazy, built once)."""
        if self._children is None:
            ch: dict[int, list[int]] = {}
            for r in self.records:
                ch.setdefault(r.parent_id, []).append(r.node_id)
            self._children = ch
        return self._children.get(parent_id, [])

    def value_index(self) -> tuple[dict, dict]:
        """``(texts, attrs)`` for the training match scan, built on first
        use: each stripped own text → the ids of the nodes carrying it
        (document order, each node once); each attribute value → its
        ``(node_id, attr)`` pairs (document order, then attr name),
        skipping 'class'/'rel', which never match."""
        if self._value_index is None:
            texts: dict[str, list[int]] = {}
            attrs: dict[str, list[tuple[int, str]]] = {}
            for r in self.records:
                for t in dict.fromkeys(r.own_texts):
                    texts.setdefault(t, []).append(r.node_id)
                for a in sorted(r.attrs):
                    if a not in ("class", "rel"):
                        attrs.setdefault(r.attrs[a], []).append((r.node_id, a))
            self._value_index = (texts, attrs)
        return self._value_index

    def _siblings(self, rec: NodeRec) -> list[int]:
        return self.children_of(rec.parent_id)

    def _type_index(self, rec: NodeRec) -> tuple[int, int]:
        """(1-based index among same-tag siblings, count of same-tag
        siblings)."""
        same = [s for s in self._siblings(rec) if self.records[s].tag == rec.tag]
        return same.index(rec.node_id) + 1, len(same)

    def _matches_compound(self, rec: NodeRec, c: Compound) -> bool:
        if c.tag is not None and rec.tag != c.tag:
            return False
        if c.id_attr is not None and rec.attrs.get("id") != c.id_attr:
            return False
        if c.classes:
            rc = rec.classes
            if any(cl not in rc for cl in c.classes):
                return False
        for name, op, value in c.attrs:
            if name not in rec.attrs:
                return False
            if op == "":
                continue
            actual = rec.attrs[name]
            if op == "=":
                ok = actual == value
            elif op == "~=":
                ok = value in actual.split()
            elif op == "^=":
                ok = bool(value) and actual.startswith(value)
            elif op == "$=":
                ok = bool(value) and actual.endswith(value)
            elif op == "*=":
                ok = bool(value) and value in actual
            else:  # |=
                ok = actual == value or actual.startswith(value + "-")
            if not ok:
                return False
        if c.nth_child is not None and not _nth_matches(c.nth_child, rec.sibling_index):
            return False
        if c.first_child and rec.sibling_index != 1:
            return False
        if c.last_child:
            sibs = self._siblings(rec)
            if not sibs or sibs[-1] != rec.node_id:
                return False
        if c.nth_of_type is not None or c.first_of_type or c.last_of_type:
            ti, tn = self._type_index(rec)
            if c.nth_of_type is not None and not _nth_matches(c.nth_of_type, ti):
                return False
            if c.first_of_type and ti != 1:
                return False
            if c.last_of_type and ti != tn:
                return False
        for nc in c.nots:
            if self._matches_compound(rec, nc):
                return False
        return True

    def _chain_matches(self, rec: NodeRec, chain: list[tuple[str, Compound]],
                       i: int) -> bool:
        """Does ``rec`` satisfy the ancestor/sibling requirements of
        chain[:i+1]?"""
        comb, comp = chain[i]
        if not self._matches_compound(rec, comp):
            return False
        if i == 0:
            return True
        prev_comb = comb  # combinator *between* chain[i-1] and chain[i]
        recs = self.records
        if prev_comb == ">":
            pid = rec.parent_id
            return pid >= 0 and self._chain_matches(recs[pid], chain, i - 1)
        if prev_comb == "+":
            sibs = self._siblings(rec)
            pos = sibs.index(rec.node_id)
            return pos > 0 and self._chain_matches(recs[sibs[pos - 1]], chain, i - 1)
        if prev_comb == "~":
            sibs = self._siblings(rec)
            pos = sibs.index(rec.node_id)
            return any(
                self._chain_matches(recs[s], chain, i - 1) for s in sibs[:pos]
            )
        for aid in rec.ancestor_ids:
            if self._chain_matches(recs[aid], chain, i - 1):
                return True
        return False

    def select(self, root_id: int, rule: str, limit: int | None = None) -> list[int]:
        """Strict descendants of root matching rule, in document order.

        ``root_id = -1`` selects from the whole document (the Page root).
        Mirrors ``Node.select`` limit semantics (``html.py:156-160``).
        """
        cached = self._selector_cache.get((root_id, rule))
        if cached is not None:
            return cached if limit is None else cached[:limit]
        if limit is not None:
            cached = self._selector_cache.get((root_id, rule, limit))
            if cached is not None:
                return cached
        chain = parse_selector(rule)
        recs = self.records
        out: list[int] = []
        if root_id < 0:
            candidates = range(len(recs))
        else:
            candidates = range(root_id + 1, self.subtree_end[root_id])
        last_i = len(chain) - 1
        for nid in candidates:
            if self._chain_matches(recs[nid], chain, last_i):
                out.append(nid)
                if limit is not None and len(out) >= limit:
                    # cache truncated results under a limit-qualified key
                    # (the reference lru_caches the equivalent select,
                    # selectors.py:59-70)
                    self._selector_cache[(root_id, rule, limit)] = out
                    return out
        self._selector_cache[(root_id, rule)] = out
        return out

    def text(self, node_id: int) -> str:
        return self.records[node_id].text
