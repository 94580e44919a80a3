"""Hyperlink extraction: per-page outlink rows.

Feeds the web-graph side of a crawl pipeline: per-page outlink rows
(href, anchor text, nofollow bit) are the input to URL frontier
dedup, anchor-text indexing, and PageRank. Not a reference behavior;
anchor-text semantics reuse serialize.to_text (html.cpp:449-489
parity) on the ``<a>`` subtree, attr semantics come from the
reference tokenizer (keys lowercased, values verbatim).

Two implementations of one function:

- ``extract_links_fused(s)`` is the production path. Like
  ``fused.extract_fused`` it runs the ``parse.py`` scanners and
  evaluates ``to_text`` on the event stream, so no ``Doc`` is built
  (the reference likewise fires its selector callbacks while it
  parses, html.cpp:539-553).
- ``extract_links(doc)`` walks a finished ``Doc``. It is the oracle
  the one-pass path is differentially tested against
  (tests/test_links_fused.py).

Semantics:

- one row per ``<a>`` element that carries an ``href`` attribute,
  numbered in document order (anchors without href are navigation
  noise and are skipped)
- nested anchors (invalid HTML the parser nevertheless represents)
  each get their own row; the outer anchor's text includes the
  inner's, exactly like to_text of the subtree
- ``anchor_text`` = to_text(raw=True) of the subtree, stripped
- ``nofollow`` = whole-token match on the space-separated rel list,
  case-insensitive
- absolute resolution (``resolve_against``) uses stdlib
  ``urllib.parse.urljoin`` (RFC 3986); empty href resolves to the
  base itself, fragment-only hrefs to base+fragment — both kept,
  the caller filters
"""

from __future__ import annotations

from typing import List, Optional, Tuple
from urllib.parse import urljoin

from .constants import (
    INLINE_TAGS,
    KIND_TAG,
    RAWTEXT_TAGS,
    VOID_TAGS,
    collapse_spaces,
)
from .fused import RE_DISPATCH
from .parse import (
    Doc,
    _scan_bogus,
    _scan_comment,
    _scan_doctype,
    _scan_rawtext,
    _scan_tag,
)
from .serialize import to_text

__all__ = ["extract_links", "extract_links_fused"]

Link = Tuple[int, str, Optional[str], str, bool]
# link_idx, href_raw, href_abs, anchor_text, nofollow


def _row(idx: int, attrs: dict, base: Optional[str]) -> list:
    """A link row with its text still empty (href/rel semantics)."""
    href = attrs["href"]
    absu = urljoin(base, href) if base else None
    nofollow = "nofollow" in (attrs.get("rel") or "").lower().split()
    return [idx, href, absu, "", nofollow]


def extract_links(doc: Doc,
                  resolve_against: Optional[str] = None) -> List[Link]:
    """All href-bearing anchors in document order (module docstring
    for numbering/text/nofollow semantics). ``href_abs`` is None when
    no base is supplied."""
    out: List[Link] = []
    kind = doc.kind
    tag = doc.tag
    attrs = doc.attrs
    for nid in range(len(doc)):
        if kind[nid] != KIND_TAG or tag[nid] != "a":
            continue
        a = attrs[nid]
        if not a or "href" not in a:
            continue
        row = _row(len(out), a, resolve_against)
        row[3] = to_text(doc, raw=True, node_id=nid).strip()
        out.append(tuple(row))
    return out


def extract_links_fused(s: str,
                        resolve_against: Optional[str] = None
                        ) -> List[Link]:
    """``extract_links(parse(s), resolve_against)`` in one pass, without
    building the ``Doc``.

    Keeps the stack of open tag names (a close tag pops every element
    above its match, anchors included) and, per open href anchor,
    ``[depth, chunks, is_block, row]`` with ``to_text``'s rules: text
    goes to every open anchor, ``<br>`` appends '\\n', a non-inline
    open or close re-arms the block flag. Text outside every anchor is
    never collected. A row is numbered when its anchor opens; its text
    is finalized when the anchor is popped (explicit close, implicit
    close or EOF)."""
    n = len(s)
    i = 0
    stack: List[str] = []            # open tag names (the node stack)
    rows: List[list] = []
    anchors: List[list] = []         # [depth, chunks, is_block, row]
    inline = INLINE_TAGS

    def text(t: str) -> None:
        """A text node (or a piece of one) entered the open anchors."""
        for a in anchors:
            chunks = a[1]
            if a[2]:
                if chunks:
                    chunks.append("\n")
                a[2] = False
            chunks.append(t)

    def block() -> None:
        for a in anchors:
            a[2] = True

    def finish(a: list) -> None:
        a[3][3] = collapse_spaces("".join(a[1])).strip()

    def open_tag(name: str, attrs: Optional[dict], sc: bool) -> bool:
        """Handle an open tag and, for a rawtext element, its content;
        False when that content ran to EOF."""
        if name == "a" and attrs and "href" in attrs:
            row = _row(len(rows), attrs, resolve_against)
            rows.append(row)
            if not sc:
                anchors.append([len(stack), [], False, row])
                stack.append(name)
            return True
        if anchors:
            if name == "br":
                for a in anchors:
                    a[1].append("\n")
            if name not in inline:
                block()
        if sc or name in VOID_TAGS:
            return True
        stack.append(name)
        return name not in RAWTEXT_TAGS or rawtext(name)

    def close(name: str) -> None:
        """Pop to the topmost open ``name`` (unmatched: dropped)."""
        if stack and stack[-1] == name:
            j = len(stack) - 1
        else:
            try:
                j = len(stack) - 1 - stack[::-1].index(name)
            except ValueError:
                return
        if anchors:
            was_block = any(t not in inline for t in stack[j:])
            while anchors and anchors[-1][0] >= j:
                finish(anchors.pop())
            if was_block:
                block()
        del stack[j:]

    def rawtext(name: str) -> bool:
        """Rawtext content of the just-pushed ``name``; False at EOF."""
        nonlocal i
        parts: List[str] = []
        i, closed, _lk, _lat = _scan_rawtext(s, i, n, name, parts)
        if anchors:
            rawc = "".join(parts)
            if rawc:
                text(rawc)
        if closed:
            close(name)
        return closed

    search = RE_DISPATCH.search
    stack_pop = stack.pop
    while i < n:
        m = search(s, i)
        if m is None:
            if anchors:
                text(s[i:])
            break
        j, e = m.span()
        if j > i and anchors:
            text(s[i:j])
        oname, cname = m.group(1, 2)
        if oname is not None:
            # fast path: no-attribute open tag <name>
            i = e
            if not oname.islower():
                oname = oname.lower()
            if not open_tag(oname, None, False):
                break
            continue
        if cname is not None:
            # fast path: simple close tag </name>
            i = e
            if not cname.islower():
                cname = cname.lower()
            if stack and stack[-1] == cname:
                stack_pop()
                if anchors:
                    if anchors[-1][0] == len(stack):
                        finish(anchors.pop())
                    if cname not in inline:
                        block()
            else:
                close(cname)
            continue
        # bare '<': the parse.py scanner dispatch
        i = j + 1
        if i >= n:
            break
        c = s[i]
        if ("a" <= c <= "z") or ("A" <= c <= "Z"):
            res = _scan_tag(s, i, n)
            if res is None:
                break
            name, at, sc, i = res
            if not open_tag(name, at, sc):
                break
        elif c == "/":
            k = i + 1
            if k >= n:
                break
            d = s[k]
            if ("a" <= d <= "z") or ("A" <= d <= "Z"):
                res = _scan_tag(s, k, n)
                if res is None:
                    break
                name, _at, _sc, i = res
                close(name)
            elif d == ">":
                i = k + 1
            else:
                cont, i, emitted = _scan_bogus(s, k, k, n)
                if cont and not emitted and anchors:
                    text(cont)
        elif c == "!":
            k = i + 1
            if k >= n:
                break
            if s.startswith("--", k):
                cont, i, emitted = _scan_comment(s, k + 2, n)
            elif s[k:k + 7].lower() == "doctype":
                cont, i, emitted = _scan_doctype(s, k + 7, n)
            else:
                cont, i, emitted = _scan_bogus(s, k, k + 1, n)
            # EOF mid-comment/doctype/bogus: the payload is a text node
            if cont and not emitted and anchors:
                text(cont)
        elif c == "?":
            cont, i, emitted = _scan_bogus(s, i, i, n)
            if cont and not emitted and anchors:
                text(cont)
        elif anchors:
            text("<")

    # EOF closes everything still open
    for a in anchors:
        finish(a)
    return [tuple(r) for r in rows]
