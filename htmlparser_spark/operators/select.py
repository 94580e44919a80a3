"""Selector queries as DataFrame operations.

Two execution strategies (SURVEY §2.C):

1. **Kernel path** (default, exact): the compiled selector runs inside
   an Arrow-batch kernel per document — reproduces the reference's
   prune-order-dependent result sets for arbitrary matcher chains.
2. **Catalyst path**: a single-matcher selector compiles to a Column
   predicate over the exploded nodes view, so Catalyst can push it
   into scans / reorder it. Multi-matcher chains (descendant/child
   combinators) intentionally stay on the kernel path: their walk
   pruning is result-visible (html.cpp:300-317) and not expressible as
   a join without reproducing walk order.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField

from ..htmldom import Selector, parse, select
from ..kernel import flatmap_docs, map_docs

__all__ = ["selector_count", "selector_matches", "selector_to_column",
           "filter_nodes", "callback_events"]


def selector_count(df: DataFrame, selector: str, text_col: str = "text",
                   key_cols=("doc_id",), nested: bool = True,
                   out_col: str = "n_matches") -> DataFrame:
    """Per-document match count for an arbitrary selector (kernel path)."""
    sel = Selector(selector)  # compile on driver; broadcast via closure

    def fn(s):
        return (len(select(parse(s), sel, nested=nested)),)

    return map_docs(df.select(*key_cols, text_col), fn,
                    [StructField(out_col, LongType())], (0,),
                    text_col=text_col, drop_text=True)


def selector_matches(df: DataFrame, selector: str, text_col: str = "text",
                     key_cols=("doc_id",), nested: bool = True) -> DataFrame:
    """One row per match: (keys..., match_seq, node_id, tag_name,
    extracted_text-of-subtree). Kernel path, exact walk order."""
    from ..htmldom import to_text

    sel = Selector(selector)
    fields = [
        StructField("match_seq", LongType()),
        StructField("node_id", LongType()),
        StructField("tag_name", StringType()),
        StructField("match_text", StringType()),
    ]

    def fn(s):
        doc = parse(s)
        return [(seq, nid, doc.tag[nid], to_text(doc, node_id=nid))
                for seq, nid in enumerate(select(doc, sel, nested=nested))]

    return flatmap_docs(df, fn, key_cols, fields, text_col=text_col)


# ---- Catalyst path -----------------------------------------------------

_SPACES_SQL = "' \\t\\n\\f\\r'"  # tokenizer space set (no \v), SQL literal


def _contains_word_expr(value_sql: str, word: str) -> str:
    """SQL for the first-occurrence word-match quirk (contains_word)."""
    w = word.replace("'", "''")
    wl = len(word)
    p = f"locate('{w}', {value_sql})"
    return (
        f"({p} > 0 AND ({p} = 1 OR instr({_SPACES_SQL}, "
        f"substring({value_sql}, {p} - 1, 1)) > 0) "
        f"AND ({p} + {wl} - 1 = length({value_sql}) OR instr({_SPACES_SQL}, "
        f"substring({value_sql}, {p} + {wl}, 1)) > 0))"
    )


def _condition_to_sql(c) -> str:
    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    if c.tag_name:
        return f"tag_name = {q(c.tag_name)}"
    if c.id:
        return f"attrs['id'] = {q(c.id)}"
    if c.class_name:
        return (f"attrs['class'] IS NOT NULL AND "
                + _contains_word_expr("attrs['class']", c.class_name))
    op = c.attr_operator
    idx = int(c.index)
    if op == "first":
        return "tag_index = 0"
    if op == "last":
        return "tag_index = n_tag_siblings - 1"
    if op == "eq":
        return f"tag_index = {idx}"
    if op == "gt":
        return f"tag_index > {idx}"
    if op == "lt":
        return f"tag_index < {idx}"
    if c.attr:
        v = f"attrs[{q(c.attr)}]"
        av = c.attr_value
        if op == "=":
            return f"{v} = {q(av)}"
        if op == "^=":
            return f"locate({q(av)}, {v}) = 1" if av else f"{v} IS NOT NULL"
        if op == "$=":
            # first-occurrence endswith quirk (html.cpp:225)
            if not av:
                return f"{v} IS NOT NULL"
            return (f"length({v}) >= {len(av)} AND "
                    f"locate({q(av)}, {v}) = length({v}) - {len(av)} + 1")
        if op == "!=":
            return f"({v} IS NULL OR {v} <> {q(av)})"
        if op == "*=":
            return f"instr({v}, {q(av)}) > 0" if av else f"{v} IS NOT NULL"
        if op == "~=":
            return f"({v} IS NOT NULL AND {_contains_word_expr(v, av)})"
        if op == "|=":
            if not av:
                return (f"{v} IS NOT NULL AND ({v} = '' OR "
                        f"substring({v}, 1, 1) = '-')")
            return (f"locate({q(av)}, {v}) = 1 AND (length({v}) = {len(av)} "
                    f"OR substring({v}, {len(av) + 1}, 1) = '-')")
        return f"{v} IS NOT NULL"  # bare [attr]
    return "false"


def selector_to_column(selector: str) -> Column:
    """Compile a SINGLE-matcher selector into a Catalyst predicate over
    the exploded nodes view (kernel-equivalent, incl. quirks).

    Raises ValueError for multi-matcher selectors — use the kernel path
    (selector_count / selector_matches) for those.
    """
    sel = Selector(selector)
    if len(sel.matchers) != 1:
        raise ValueError(
            f"selector {selector!r} has {len(sel.matchers)} matchers; the "
            "Catalyst path supports single-matcher selectors only")
    m = sel.matchers[0]
    base = "kind = 1"
    if m.all_match:
        return F.expr(base)
    groups = []
    for g in m.groups:
        if not g:
            groups.append("true")  # empty OR-group matches every tag
        else:
            groups.append("(" + " AND ".join(
                _condition_to_sql(c) for c in g) + ")")
    return F.expr(f"{base} AND ({' OR '.join(groups)})")


def filter_nodes(nodes_df: DataFrame, selector: str) -> DataFrame:
    """Filter an exploded nodes DataFrame by a single-matcher selector."""
    return nodes_df.filter(selector_to_column(selector))


def callback_events(df: DataFrame, selectors, text_col: str = "text",
                    key_cols=("doc_id",),
                    with_err: bool = True,
                    attr: Optional[str] = None) -> DataFrame:
    """Parse-time callback firings as rows (reference EP3 surface,
    html.cpp:539-573 via htmldom.CallbackParser).

    ``selectors``: list of selector strings or None (None =
    unconditional node callback). Output: one row per firing, in exact
    handle order — (keys..., event_seq, cb_idx, kind, tag_name) with
    kind ∈ open|text|comment|doctype|close|err. ``event_seq`` is the
    document's absolute event index, ``cb_idx`` the registration index
    (err callback = len(selectors)), so ORDER BY (event_seq, cb_idx)
    replays the reference's dispatch exactly. ``attr``, if given, adds
    an ``{attr}_attr`` column echoing that attribute of the fired node
    (get_attr semantics: '' when absent) — this makes the EOF-leak
    surface observable (a rawtext doc truncated mid ``</clos...``
    flushes a text node carrying the partial close-tag name and
    committed attrs, html.cpp:1008-1010).

    Scale: the same ``flatmap_docs`` shape as the other kernel
    operators — per-document work, no shuffle, Arrow-batched; output
    rows are tiny (two ints + two short strings) regardless of
    document size.
    """
    from ..htmldom import CallbackParser
    from ..htmldom.callbacks import CloseNode
    from ..htmldom.constants import (
        KIND_COMMENT, KIND_DOCTYPE, KIND_TAG, KIND_TEXT)

    kind_name = {KIND_TAG: "open", KIND_TEXT: "text",
                 KIND_COMMENT: "comment", KIND_DOCTYPE: "doctype"}
    fields = [
        StructField("event_seq", LongType(), False),
        StructField("cb_idx", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("tag_name", StringType(), False),
    ] + ([StructField(f"{attr}_attr", StringType(), False)]
         if attr else [])

    def fn(html):
        # fresh parser per doc: the counter closure and rows are
        # per-document
        p = CallbackParser()
        seq = {"i": -1}
        fired: List[tuple] = []

        def _aval(d, n):
            if not attr:
                return ()
            at = d.attrs[n]
            return (at.get(attr, "") if at else "",)

        def mk(idx):
            def cb(d, n):
                if isinstance(d, CloseNode):
                    fired.append((seq["i"], idx, "close", d.tag[0],
                                  *_aval(d, 0)))
                else:
                    fired.append((seq["i"], idx, kind_name[d.kind[n]],
                                  d.tag[n], *_aval(d, n)))
            return cb

        # an unconditional tracker callback advances the event counter
        # exactly once per node/close event; err events advance it
        # inside the err callback
        def tracker(d, n):
            seq["i"] += 1
        p.set_callback(tracker)
        for idx, sel in enumerate(selectors):
            if sel is None:
                p.set_callback(mk(idx))
            else:
                p.set_callback(sel, mk(idx))
        if with_err:
            err_idx = len(selectors)

            def ecb(e, d, n):
                seq["i"] += 1
                fired.append((seq["i"], err_idx, "err", d.tag[n],
                              *_aval(d, n)))
            p.set_err_callback(ecb)
        p.parse(html)
        return fired

    return flatmap_docs(df, fn, key_cols, fields, text_col=text_col)
