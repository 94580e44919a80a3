"""Document construction + traversal: the reference's build API.

- ``make_node``   — utils::make_node (html.cpp:1013-1028): a detached
  one-node document; void tag names are forced self-closing.
- ``append``      — node::append / deep copy (html.cpp:515-537,
  262-273): copy a subtree as the LAST child of a target node,
  reassigning ``tag_index`` / ``n_tag_children`` in the destination
  (the copy is independent — mutating the source afterwards does not
  affect it).
- ``walk``        — node::walk (html.cpp:275-285): pre-order traversal
  with prune-on-False handler.

Needed by fixtures and API parity (example/example.cpp:130-176), not
by the pipeline hot path. ``append`` always copies a finished subtree,
so documents built this way keep the pre-order array layout the rest
of the kernel assumes.
"""

from __future__ import annotations

from typing import Callable, Optional

from .constants import KIND_TAG, VOID_TAGS
from .parse import Doc

__all__ = ["make_node", "append", "walk"]


def make_node(kind: int, tag_name: str = "", content: str = "",
              attrs: Optional[dict] = None) -> Doc:
    """A detached single-node document (reference utils::make_node).
    Tag nodes with a void tag name are auto self-closing
    (html.cpp:1017-1020)."""
    d = Doc()
    d.kind.append(kind)
    d.tag.append(tag_name)
    d.content.append(content)
    # reference utils::make_node applies attributes to TAG nodes only
    # (html.cpp:1017-1026); attrs passed with a text/comment kind are
    # ignored, matching the C++ signature where they can't be expressed
    d.attrs.append(dict(attrs) if (attrs and kind == KIND_TAG)
                   else ({} if kind == KIND_TAG else None))
    d.self_closing.append(kind == KIND_TAG and tag_name in VOID_TAGS)
    d.parent.append(-1)
    d.depth.append(0)
    d.tag_index.append(0)
    d.n_tag_children.append(0)
    d.children.append([])
    d.root_children.append(0)
    if kind == KIND_TAG:
        d.root_tag_count = 1
    return d


def append(dst: Doc, dst_nid: int, src: Doc, src_nid: int = 0) -> int:
    """Deep-copy the ``src_nid`` subtree of ``src`` as the last child
    of ``dst_nid`` in ``dst`` (node::append). Returns the new node id.
    ``dst_nid=-1`` appends at the root."""

    def copy_rec(s_nid: int, parent: int, depth: int) -> int:
        nid = len(dst.kind)
        is_tag = src.kind[s_nid] == KIND_TAG
        dst.kind.append(src.kind[s_nid])
        dst.tag.append(src.tag[s_nid])
        dst.content.append(src.content[s_nid])
        a = src.attrs[s_nid]
        dst.attrs.append(dict(a) if a is not None else None)
        dst.self_closing.append(src.self_closing[s_nid])
        dst.parent.append(parent)
        dst.depth.append(depth)
        # index reassignment in the DESTINATION (html.cpp:525-527)
        if is_tag:
            dst.tag_index.append(dst.node_count_of(parent))
            if parent < 0:
                dst.root_tag_count += 1
            else:
                dst.n_tag_children[parent] += 1
        else:
            dst.tag_index.append(0)
        dst.n_tag_children.append(0)
        dst.children.append([])
        if parent < 0:
            dst.root_children.append(nid)
        else:
            dst.children[parent].append(nid)
        for c in src.children[s_nid]:
            copy_rec(c, nid, depth + 1)
        return nid

    base_depth = 0 if dst_nid < 0 else dst.depth[dst_nid] + 1
    return copy_rec(src_nid, dst_nid, base_depth)


def walk(doc: Doc, fn: Callable[[int], bool], node_id: int = -1) -> None:
    """Pre-order traversal; ``fn(nid) -> False`` prunes that node's
    subtree (node::walk, html.cpp:275-285). ``node_id=-1`` starts at
    the root's children."""
    start = doc.root_children if node_id < 0 else doc.children[node_id]
    stack = list(reversed(start))
    while stack:
        nid = stack.pop()
        if fn(nid):
            stack.extend(reversed(doc.children[nid]))
