"""Serializers over the flat ``Doc`` arrays.

Faithful re-expressions of the reference's three output operators
(/root/reference/html.cpp):

- ``to_text``      — main-content extraction (html.cpp:449-489)
- ``to_raw_html``  — canonical serialization (html.cpp:394-432, 443-447)
- ``to_html``      — pretty printer (html.cpp:325-392, 434-441)

All are iterative (explicit stacks), so pathologically deep documents
cannot blow the Python recursion limit — important for untrusted
web-scale input. ``to_text_stripped`` adds the boilerplate-strip stage
(drop script/style subtrees; comments contribute nothing anyway), which
is the pipeline default; plain ``to_text`` keeps reference semantics
where script/style content IS included.
"""

from __future__ import annotations

from html import unescape as _unescape
from typing import FrozenSet, List, Optional

from .constants import (
    KIND_COMMENT,
    KIND_TAG,
    KIND_TEXT,
    INLINE_TAGS,
    RAWTEXT_TAGS,
    RE_HAS_NONSPACE,
    collapse_spaces,
)
from .parse import Doc

__all__ = [
    "to_text",
    "to_text_stripped",
    "to_raw_html",
    "to_html",
    "DEFAULT_STRIP_TAGS",
]

DEFAULT_STRIP_TAGS: FrozenSet[str] = frozenset(("script", "style"))

_EXIT = -2  # sentinel for tag-exit events on the traversal stack


def _start_nodes(doc: Doc, node_id: Optional[int]) -> List[int]:
    """Nodes whose subtrees a serializer visits: root children, or the
    single node itself (reference serializers start AT the node)."""
    if node_id is None:
        return doc.root_children
    return [node_id]


def to_text(
    doc: Doc,
    raw: bool = False,
    node_id: Optional[int] = None,
    skip_tags: Optional[FrozenSet[str]] = None,
    decode_entities: bool = False,
) -> str:
    """Pre-order text extraction (html.cpp:449-489).

    Text content is emitted verbatim (no whitespace collapsing, no
    entity decoding). A single '\\n' precedes a text node when a block
    boundary was crossed since the last output and output is non-empty;
    ``<br>`` emits '\\n' unconditionally. Comments/doctypes contribute
    nothing. ``raw=True`` collapses whitespace runs (incl. \\v)
    afterwards. ``skip_tags`` removes whole subtrees *before*
    serialization (the boilerplate-strip stage; not part of the
    reference's to_text).

    ``decode_entities=True`` (opt-in, NOT reference behavior — the
    reference never decodes, html.cpp:449-489 emits bytes verbatim)
    decodes HTML5 character references per TEXT NODE (WHATWG named +
    numeric forms, stdlib ``html.unescape``) — per node, so a
    reference can never be assembled across node boundaries; rawtext
    content (script/style) is never decoded, matching the HTML5
    tokenizer's rawtext states. Default OFF keeps byte-equality with
    the reference fixtures.
    """
    kind = doc.kind
    tag = doc.tag
    content = doc.content
    children = doc.children
    parent_l = doc.parent
    dec = _unescape if decode_entities else None
    out: List[str] = []
    is_block = False
    # stack holds (node_id, entering) — _EXIT entries carry the tag id
    stack: List[int] = []
    starts = _start_nodes(doc, node_id)
    for nid in reversed(starts):
        stack.append(nid)
    while stack:
        nid = stack.pop()
        if nid < 0:
            # tag exit: a block tag re-arms the block boundary
            is_block = True
            continue
        k = kind[nid]
        if k == KIND_TEXT:
            if is_block:
                if out:
                    out.append("\n")
                is_block = False
            c = content[nid]
            if dec is not None and "&" in c:
                p = parent_l[nid]
                if p < 0 or tag[p] not in RAWTEXT_TAGS:
                    c = dec(c)
            out.append(c)
        elif k == KIND_TAG:
            t = tag[nid]
            if skip_tags is not None and t in skip_tags:
                continue  # drop entire subtree
            if t == "br":
                out.append("\n")
            if t not in INLINE_TAGS:
                is_block = True
                stack.append(_EXIT)  # block exit marker
            ch = children[nid]
            for c in reversed(ch):
                stack.append(c)
        # comments / doctypes: nothing
    s = "".join(out)
    if raw:
        s = collapse_spaces(s)
    return s


def to_text_stripped(doc: Doc, raw: bool = False,
                     strip_tags: FrozenSet[str] = DEFAULT_STRIP_TAGS,
                     decode_entities: bool = False) -> str:
    """Pipeline main-content extraction: to_text after dropping
    script/style subtrees (comments already contribute nothing)."""
    return to_text(doc, raw=raw, skip_tags=strip_tags,
                   decode_entities=decode_entities)


def _attrs_serialized(attrs: Optional[dict]) -> str:
    """Attributes in alphabetical key order, always double-quoted
    (std::map iteration order, html.cpp:357-361 / 411-414)."""
    if not attrs:
        return ""
    return "".join(f' {k}="{v}"' for k, v in sorted(attrs.items()))


def to_raw_html(doc: Doc, child: bool = True, text: bool = True,
                node_id: Optional[int] = None) -> str:
    """Canonical serialization (html.cpp:394-432).

    All-whitespace text nodes (tokenizer space set, no \\v) are skipped;
    other text has whitespace runs (incl. \\v) collapsed to one space
    unless the parent is a rawtext tag. Unclosed tags serialize closed.
    """
    kind = doc.kind
    tag = doc.tag
    content = doc.content
    attrs_l = doc.attrs
    selfc = doc.self_closing
    parent_l = doc.parent
    children = doc.children
    out: List[str] = []
    stack: List[int] = []  # ids; encoded (-id-3) = exit event
    starts = _start_nodes(doc, node_id)
    for nid in reversed(starts):
        stack.append(nid)
    while stack:
        nid = stack.pop()
        if nid <= _EXIT:
            t = tag[-nid - 3]
            out.append(f"</{t}>")
            continue
        k = kind[nid]
        if k == KIND_TEXT:
            if text and RE_HAS_NONSPACE.search(content[nid]):
                s = content[nid]
                p = parent_l[nid]
                if p < 0 or tag[p] not in RAWTEXT_TAGS:
                    s = collapse_spaces(s)
                out.append(s)
        elif k == KIND_TAG:
            out.append("<")
            out.append(tag[nid])
            out.append(_attrs_serialized(attrs_l[nid]))
            if selfc[nid]:
                out.append(" />")
            else:
                out.append(">")
                stack.append(-nid - 3)  # exit event
                if child:
                    for c in reversed(children[nid]):
                        stack.append(c)
        elif k == KIND_COMMENT:
            out.append(f"<!--{content[nid]}-->")
        else:  # doctype
            out.append(f"<!DOCTYPE {content[nid]}>")
    return "".join(out)


def to_html(doc: Doc, indent: str = "\t", child: bool = True,
            text: bool = True, node_id: Optional[int] = None) -> str:
    """Pretty printer (html.cpp:325-392, 434-441).

    Ported with the same mutable state: a document-global ``deep``
    counter, per-children-loop (last_is_block, sibling_is_block) flag
    pairs, and position-dependent newlines. Iterative via an explicit
    event stack; each tag's children run with a fresh flags frame.
    """
    kind = doc.kind
    tag = doc.tag
    content = doc.content
    attrs_l = doc.attrs
    selfc = doc.self_closing
    parent_l = doc.parent
    children = doc.children

    out: List[str] = []
    out_len = 0  # running output length == C++ out.tellp()

    def emit(s: str) -> None:
        nonlocal out_len
        out.append(s)
        out_len += len(s)

    deep = [0]  # shared int& across the whole document

    # frames: [last_is_block, sibling_is_block] lists shared by siblings
    root_frame = [False, False]
    starts = _start_nodes(doc, node_id)
    # stack entries: ("enter", nid, level, frame) | ("exit", nid, frame)
    stack: list = [("enter", nid, 0, root_frame) for nid in reversed(starts)]
    while stack:
        ev = stack.pop()
        if ev[0] == "exit":
            _kind, nid, child_frame = ev[0], ev[1], ev[2]
            if child_frame[1]:  # sibling_is_block_n
                if deep[0] > 0:
                    deep[0] -= 1
                emit("\n" + indent * deep[0])
            emit(f"</{tag[nid]}>")
            continue
        _tag_, nid, level, frame = ev
        k = kind[nid]
        if k == KIND_TEXT:
            if text and RE_HAS_NONSPACE.search(content[nid]):
                s = content[nid]
                p = parent_l[nid]
                if p < 0 or tag[p] not in RAWTEXT_TAGS:
                    s = collapse_spaces(s)
                if frame[0]:
                    emit("\n" + indent * deep[0])
                emit(s)
                frame[0] = False
        elif k == KIND_TAG:
            pos = out_len
            old_is_block = frame[0]
            t = tag[nid]
            frame[0] = t not in INLINE_TAGS
            if pos and (old_is_block or frame[0]):
                emit("\n" + indent * deep[0])
                if level and frame[0] and not frame[1]:
                    frame[1] = True
                    deep[0] += 1
                    emit(indent)
            emit("<" + t + _attrs_serialized(attrs_l[nid]))
            if selfc[nid]:
                emit(" />")
            else:
                emit(">")
                if child:
                    child_frame = [False, False]
                    stack.append(("exit", nid, child_frame))
                    for c in reversed(children[nid]):
                        stack.append(("enter", c, level + 1, child_frame))
                else:
                    emit(f"</{t}>")
        elif k == KIND_COMMENT:
            if frame[0]:
                emit("\n" + indent * deep[0])
            emit(f"<!--{content[nid]}-->")
            frame[0] = False
        else:  # doctype
            emit(f"<!DOCTYPE {content[nid]}>")
            frame[0] = True
            frame[1] = True
    return "".join(out)
