"""CSS-selector compiler + evaluator over flat ``Doc`` arrays.

Faithful re-expression of the reference selector engine
(/root/reference/html.cpp:18-153 compiler, 183-260 evaluation,
287-323 staged walk). Result-visible quirks preserved:

- ``*`` is match-all only when the ENTIRE selector is "*"; elsewhere it
  compiles to a literal tag name "*" (matches nothing real);
- ``,`` creates OR-groups; an empty group (``a,,b``) matches every tag;
- ``.class`` / ``[attr~=]`` use first-occurrence word matching
  (``contains_word`` quirk);
- ``[attr$='v']`` is find()==size-len, so an earlier occurrence of the
  suffix defeats it (``valval`` does not end-with ``val``);
- ``[attr!='v']`` is satisfied by a missing attr;
- ``:first/:last/:eq/:gt/:lt`` index tag siblings only;
- the staged walk's pruning is result-visible and ported literally:
  mid-chain descendant matchers stop at the topmost match, the RHS of
  ``>`` scans depth-1 only, the LHS of ``>`` keeps scanning matched
  subtrees, and the last matcher descends per ``nested``.
"""

from __future__ import annotations

from typing import List

from .constants import KIND_TAG, contains_word
from .parse import Doc

__all__ = ["Condition", "Matcher", "Selector", "select"]

_ROUTE_CHARS = frozenset("\x00 [:.#,>")


def _is_route(c: str) -> bool:
    return c in _ROUTE_CHARS


def _ascii_lower_char(c: str) -> str:
    return chr(ord(c) + 32) if "A" <= c <= "Z" else c


class Condition:
    __slots__ = ("tag_name", "id", "class_name", "index", "attr",
                 "attr_value", "attr_operator")

    def __init__(self) -> None:
        self.tag_name = ""
        self.id = ""
        self.class_name = ""
        self.index = "0"
        self.attr = ""
        self.attr_value = ""
        self.attr_operator = ""

    def match(self, doc: Doc, nid: int) -> bool:
        # Dispatch order mirrors html.cpp:183-239.
        i = int(self.index)
        if self.tag_name:
            return doc.tag[nid] == self.tag_name
        if self.id:
            attrs = doc.attrs[nid]
            if attrs is not None and "id" in attrs:
                return attrs["id"] == self.id
            return False
        if self.class_name:
            attrs = doc.attrs[nid]
            if attrs is not None and "class" in attrs:
                return contains_word(attrs["class"], self.class_name)
            return False
        op = self.attr_operator
        if op == "first":
            return doc.tag_index[nid] == 0
        if op == "last":
            return doc.tag_index[nid] == doc.node_count_of(doc.parent[nid]) - 1
        if op == "eq":
            return doc.tag_index[nid] == i
        if op == "gt":
            return doc.tag_index[nid] > i
        if op == "lt":
            return doc.tag_index[nid] < i
        if self.attr:
            attrs = doc.attrs[nid]
            v = None if attrs is None else attrs.get(self.attr)
            if v is None:
                return op == "!="
            av = self.attr_value
            if op == "=":
                return v == av
            if op == "^=":
                return v.find(av) == 0
            if op == "$=":
                # quirk: first-occurrence endswith (html.cpp:225)
                return len(av) <= len(v) and v.find(av) == len(v) - len(av)
            if op == "!=":
                return v != av
            if op == "*=":
                return av in v
            if op == "~=":
                return contains_word(v, av)
            if op == "|=":
                return v.find(av) == 0 and (
                    len(av) == len(v) or v[len(av)] == "-")
            return True  # bare [attr] existence
        return False


class Matcher:
    __slots__ = ("dc_first", "dc_second", "all_match", "groups")

    def __init__(self) -> None:
        self.dc_first = False
        self.dc_second = False
        self.all_match = False
        # OR over groups; AND within a group. An EMPTY group matches
        # every tag (vacuous AND) — reference quirk for "a,,b".
        self.groups: List[List[Condition]] = []

    def match(self, doc: Doc, nid: int) -> bool:
        if doc.kind[nid] != KIND_TAG:
            return False
        if self.all_match:
            return True
        for group in self.groups:
            if all(c.match(doc, nid) for c in group):
                return True
        return False


class Selector:
    """Compiled selector: a chain of descendant/child matchers."""

    __slots__ = ("matchers", "source")

    def __init__(self, s: str) -> None:
        self.source = s
        self.matchers: List[Matcher] = []
        self._compile(s)

    def __bool__(self) -> bool:
        return bool(self.matchers)

    def _compile(self, s: str) -> None:
        # Literal port of the compile state machine (html.cpp:18-153).
        matcher = Matcher()
        cond = Condition()
        if s == "*":
            matcher.all_match = True
            self.matchers.append(matcher)
            return
        ROUTE, TAG, ST_CLASS, ID, ST_OP, INDEX, ATTR, ATTR_OP, ATTR_VAL = range(9)
        state = TAG
        pos = 0
        n = len(s)
        c = "\x00"
        reconsume = False

        def save_matcher() -> None:
            nonlocal matcher
            if matcher.groups:
                self.matchers.append(matcher)
                matcher = Matcher()

        def save_cond(field: str) -> None:
            nonlocal cond
            if field:
                if not matcher.groups:
                    matcher.groups.append([])
                matcher.groups[-1].append(cond)
                cond = Condition()

        while True:
            if not reconsume:
                if pos < n:
                    c = s[pos]
                    pos += 1
                else:
                    c = "\x00"
                    pos += 1  # mirrors the do/while: one iteration with c==0
            reconsume = False
            if state == ROUTE:
                if c == "\x00" or c == " ":
                    save_matcher()
                    state = TAG
                elif c == ">":
                    if not matcher.dc_second:
                        matcher.dc_first = True
                    save_matcher()
                    matcher.dc_second = True
                    state = TAG
                elif c == "[":
                    state = ATTR
                elif c == ":":
                    state = ST_OP
                elif c == ".":
                    state = ST_CLASS
                elif c == "#":
                    state = ID
                elif c == ",":
                    matcher.groups.append([])
                    state = TAG
            elif state == TAG:
                if _is_route(c):
                    save_cond(cond.tag_name)
                    reconsume = True
                    state = ROUTE
                else:
                    cond.tag_name += _ascii_lower_char(c)
            elif state == ST_CLASS:
                if _is_route(c):
                    save_cond(cond.class_name)
                    reconsume = True
                    state = ROUTE
                else:
                    cond.class_name += c
            elif state == ID:
                if _is_route(c):
                    save_cond(cond.id)
                    reconsume = True
                    state = ROUTE
                else:
                    cond.id += c
            elif state == ST_OP:
                if _is_route(c):
                    save_cond(cond.attr_operator)
                    reconsume = True
                    state = ROUTE
                elif c == "(":
                    state = INDEX
                else:
                    cond.attr_operator += _ascii_lower_char(c)
            elif state == INDEX:
                if c == ")":
                    save_cond(cond.index)
                    state = ROUTE
                elif "0" <= c <= "9":
                    cond.index += c
            elif state == ATTR:
                if c == "]":
                    save_cond(cond.attr)
                    state = ROUTE
                elif c in "=*^$!~|":
                    reconsume = True
                    state = ATTR_OP
                else:
                    cond.attr += _ascii_lower_char(c)
            elif state == ATTR_OP:
                if c == "'":
                    state = ATTR_VAL
                else:
                    cond.attr_operator += c
            elif state == ATTR_VAL:
                if c == "'":
                    save_cond(cond.attr_operator)
                    state = ATTR
                else:
                    cond.attr_value += c
            if not (c != "\x00" or reconsume):
                break

    # -- evaluation helpers -------------------------------------------

    def match_first(self, doc: Doc, nid: int) -> bool:
        """Callback-mode match: only the FIRST matcher is applied and the
        selector fires only if it is the only one (html.cpp:545-549).

        Zero-matcher quirk (#16, html.cpp:541-543 + html.hpp:128-130):
        a selector that COMPILES to no matchers — e.g. a NUL byte
        inside the first matcher terminates compilation and drops the
        in-progress matcher — is falsy in the reference's dispatch
        (`if(!c.first)`), which makes the callback UNCONDITIONAL, not
        dead. Found by the callback differential fuzz; node::select is
        unaffected (an empty walk matches nothing there)."""
        if not self.matchers:
            return True
        if not self.matchers[0].match(doc, nid):
            return False
        return len(self.matchers) == 1


def _walk(doc: Doc, start: int, handler) -> None:
    """Pre-order walk over the children of ``start`` (html.cpp:275-285);
    handler returns whether to descend. start == -1 walks from root."""
    stack = list(reversed(
        doc.root_children if start < 0 else doc.children[start]))
    children = doc.children
    while stack:
        nid = stack.pop()
        if handler(nid):
            for c in reversed(children[nid]):
                stack.append(c)


def select(doc: Doc, sel, nested: bool = True,
           start: int = -1) -> List[int]:
    """Staged descendant search (html.cpp:287-323). Returns node ids in
    walk order (document pre-order within each stage root)."""
    if isinstance(sel, str):
        sel = Selector(sel)
    matched: List[int] = [start] if sel.matchers else []
    msize = len(sel.matchers)
    for i, matcher in enumerate(sel.matchers):
        selectee = matched
        matched = []
        last = i >= msize - 1
        for p in selectee:
            def handler(nid: int, _m=matcher, _last=last) -> bool:
                if _m.match(doc, nid):
                    matched.append(nid)
                    if _m.dc_second:
                        return False
                    if _m.dc_first:
                        return True
                    if not _last:
                        return False
                    return nested
                if _m.dc_second:
                    return False
                return True
            _walk(doc, p, handler)
    return matched
