"""The Arrow kernel boundary: every HTML-surface kernel against a
driver-side replay of its ``htmldom`` function.

One input frame covers the boundary's edge cases:

- partition 0 mixes rich pages (links, tables, list items, astral-plane
  text) with a NULL text;
- partition 1 has text but nothing that a flat-map kernel (links,
  tables, blocks, ``li`` matches) emits a row for, so its output batch
  is empty;
- partition 2 holds only NULL texts.

The ``ts`` column is a UTC timestamp passed through untouched, and the
flat-map kernels take their keys as ``("ts", "doc_id")``, the reverse
of the input schema's order. The expected schemas pin field names,
order, types and nullability: ``content_blocks``, tables and links
order key fields by the input schema, the selector kernels and
``explode_nodes`` by ``key_cols``.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from htmlparser_spark.htmldom import (
    CallbackParser,
    Selector,
    parse,
    select,
    to_html,
    to_text,
)
from htmlparser_spark.htmldom.callbacks import CloseNode
from htmlparser_spark.htmldom.constants import (
    KIND_COMMENT,
    KIND_DOCTYPE,
    KIND_TAG,
    KIND_TEXT,
)
from htmlparser_spark.htmldom.content import main_content, score_blocks
from htmlparser_spark.htmldom.fused import extract_fused
from htmlparser_spark.htmldom.links import extract_links_fused
from htmlparser_spark.htmldom.markdown import to_markdown
from htmlparser_spark.htmldom.meta import META_FIELDS, extract_page_meta
from htmlparser_spark.htmldom.tables import extract_tables

RICH = (
    '<!DOCTYPE html><html lang="en"><head><title>Title \U0001F600</title>'
    '<meta name="description" content="about &amp; more">'
    '<meta name="robots" content="noindex">'
    '<link rel="canonical" href="/canon"></head><body>'
    '<div id="nav"><a href="/home">Home</a> | <a href="/about">About</a>'
    '</div><article><h1>Head \U0001D518</h1><p>' + "Body words here. " * 8
    + '<a href="rel/x?q=1" rel="nofollow">astral \U0001D518 link</a></p>'
    '<table><tr><th>h1</th><th>h2</th></tr>'
    '<tr><td>c \U0001F600</td><td colspan="2">wide</td></tr></table>'
    '<ul><li>one</li><li id="i2">two <b>bold</b></li></ul>'
    '<script>var x = "<p>";</script><style>p{}</style>&amp; done'
    '</article></body></html>'
)
SMALL = ('<p class="a b">plain \U0001D518 &lt;b&gt; text</p><!-- c -->'
         '<div>x<br>y<li>z</li></div><a href="#frag">f</a>')
NO_ROWS = ["just text, no markup \U0001F600", "", "<b>bold</b><i>it"]

T0 = dt.datetime(2024, 3, 1, 12, 0, tzinfo=dt.timezone.utc)

SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("ts", TimestampType(), True),
    StructField("text", StringType(), True),
    StructField("url", StringType(), True),
])
KEYS = ("ts", "doc_id")  # the reverse of the input schema's order


@pytest.fixture(scope="module")
def docs(spark):
    texts = [RICH, SMALL, None] + NO_ROWS + [None, None, None]
    rows = [(i, None if i == 4 else T0 + dt.timedelta(minutes=i), t,
             None if i == 1 else f"https://ex.com/d{i}/")
            for i, t in enumerate(texts)]
    # parallelize slices contiguously: 3 partitions of 3 rows each
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
                               SCHEMA)
    assert df.rdd.glom().map(len).collect() == [3, 3, 3]
    return df


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _map_replay(df, fn, null_row, drop_text=False):
    out = []
    for r in df.collect():
        d = r.asDict()
        if drop_text:
            del d["text"]
        vals = null_row if r["text"] is None else fn(r["text"])
        out.append(tuple(d.values()) + tuple(vals))
    return sorted(out, key=repr)


def _flat_replay(df, fn, keys, args=()):
    out = []
    for r in df.collect():
        if r["text"] is None:
            continue
        for t in fn(r["text"], *[r[a] for a in args]):
            out.append(tuple(r[k] for k in keys) + tuple(t))
    return sorted(out, key=repr)


def _fields(*spec):
    return [StructField(n, t, nullable) for n, t, nullable in spec]


DOC_ID = StructField("doc_id", LongType(), False)
TS = StructField("ts", TimestampType(), True)
TEXT = StructField("text", StringType(), True)
URL = StructField("url", StringType(), True)
S, I, L, B = StringType(), IntegerType(), LongType(), BooleanType()


def _check(out, expected_fields, expected_rows):
    assert out.schema == StructType(expected_fields)
    assert _rows(out) == expected_rows


# ---- one row out per row in ----------------------------------------

@pytest.mark.parametrize("kw", [
    dict(include_raw=True),
    dict(include_raw=False),
    dict(include_raw=True, drop_text=True),
    dict(include_raw=True, decode_entities=True, raw_collapse=True),
    dict(strip=False, include_raw=False, drop_text=True),
])
def test_extract_text(docs, kw):
    from htmlparser_spark.kernel import extract_text

    raw = kw.get("include_raw", True)
    drop = kw.get("drop_text", False)

    def fn(s):
        ext, r, n, e = extract_fused(
            s, strip=kw.get("strip", True), want_raw=raw,
            raw_collapse=kw.get("raw_collapse", False),
            decode_entities=kw.get("decode_entities", False))
        return (ext, r, n, e) if raw else (ext, n, e)

    fields = ([DOC_ID, TS] + ([] if drop else [TEXT]) + [URL]
              + _fields(("extracted_text", S, True))
              + (_fields(("raw_html", S, True)) if raw else [])
              + _fields(("n_nodes", I, True), ("n_errors", I, True)))
    null_row = (None, None, 0, 0) if raw else (None, 0, 0)
    _check(extract_text(docs, **kw), fields,
           _map_replay(docs, fn, null_row, drop))


def test_extract_main_content(docs):
    from htmlparser_spark.operators.content import extract_main_content

    out = extract_main_content(docs, min_text_len=10, drop_text=True)
    fields = [DOC_ID, TS, URL] + _fields(
        ("main_text", S, True), ("n_kept_blocks", I, True),
        ("n_candidate_blocks", I, True))
    _check(out, fields, _map_replay(
        docs, lambda s: main_content(parse(s), min_text_len=10),
        (None, 0, 0), drop_text=True))


def test_extract_markdown(docs):
    from htmlparser_spark.operators.content import extract_markdown

    out = extract_markdown(docs, decode_entities=True)
    _check(out, [DOC_ID, TS, TEXT, URL] + _fields(("markdown", S, True)),
           _map_replay(docs, lambda s: (to_markdown(
               parse(s), decode_entities=True),), (None,)))


def test_extract_page_metadata(docs):
    from htmlparser_spark.operators.pagemeta import extract_page_metadata

    out = extract_page_metadata(docs, drop_text=True)
    fields = [DOC_ID, TS, URL] + [
        StructField(n, B if n == "robots_noindex" else S, True)
        for n in META_FIELDS]

    def fn(s):
        meta = extract_page_meta(parse(s))
        return tuple(meta[n] for n in META_FIELDS)

    _check(out, fields, _map_replay(
        docs, fn, (None,) * len(META_FIELDS), drop_text=True))


def test_selector_count(docs):
    from htmlparser_spark.operators.select import selector_count

    out = selector_count(docs, "ul > li", key_cols=KEYS)
    sel = Selector("ul > li")
    expected = [
        (r["ts"], r["doc_id"],
         0 if r["text"] is None else len(select(parse(r["text"]), sel)))
        for r in docs.collect()]
    _check(out, [TS, DOC_ID, StructField("n_matches", L, True)],
           sorted(expected, key=repr))


def test_to_html_pretty(spark, docs, tmp_path):
    from htmlparser_spark.queries import _docs_wrapped, q_to_html_pretty

    docs.filter("text is not null").select("doc_id", "text") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    wrapped = _docs_wrapped(spark, sf).collect()
    _check(q_to_html_pretty(spark, sf),
           [StructField("doc_id", L, True),
            StructField("pretty_html", S, True)],
           sorted(((r["doc_id"], to_html(parse(r["text"])))
                   for r in wrapped), key=repr))


# ---- N rows out per row in -----------------------------------------

def _nodes(s):
    doc = parse(s)
    anc = []
    for nid, p in enumerate(doc.parent):
        anc.append([] if p < 0 else anc[p] + [p])
        yield (nid, p, doc.depth[nid], doc.kind[nid], doc.tag[nid],
               doc.content[nid], doc.attrs[nid], doc.self_closing[nid],
               doc.tag_index[nid], doc.n_tag_children[nid],
               doc.node_count_of(p), anc[nid])


def _li_matches(s):
    doc = parse(s)
    return [(seq, nid, doc.tag[nid], to_text(doc, node_id=nid))
            for seq, nid in enumerate(select(doc, Selector("ul > li")))]


def _events(attr):
    """Callback firings for selectors ["li", None] plus the err
    callback, in dispatch order."""
    kinds = {KIND_TAG: "open", KIND_TEXT: "text", KIND_COMMENT: "comment",
             KIND_DOCTYPE: "doctype"}

    def fn(html):
        p, seq, fired = CallbackParser(), [-1], []

        def tail(d, n):
            at = d.attrs[n]
            return ((at.get(attr, "") if at else ""),) if attr else ()

        def tick(d, n):
            seq[0] += 1

        def mk(idx):
            def cb(d, n):
                if isinstance(d, CloseNode):
                    fired.append((seq[0], idx, "close", d.tag[0])
                                 + tail(d, 0))
                else:
                    fired.append((seq[0], idx, kinds[d.kind[n]], d.tag[n])
                                 + tail(d, n))
            return cb

        def err(e, d, n):
            seq[0] += 1
            fired.append((seq[0], 2, "err", d.tag[n]) + tail(d, n))

        p.set_callback(tick)
        p.set_callback("li", mk(0))
        p.set_callback(mk(1))
        p.set_err_callback(err)
        p.parse(html)
        return fired

    return fn


NODE_FIELDS = _fields(
    ("node_id", I, False), ("parent_id", I, False), ("depth", I, False),
    ("kind", I, False), ("tag_name", S, False), ("content", S, False),
    ("attrs", MapType(S, S), True), ("self_closing", B, False),
    ("tag_index", I, False), ("n_tag_children", I, False),
    ("n_tag_siblings", I, False), ("ancestor_ids", ArrayType(I), False))
MATCH_FIELDS = _fields(
    ("match_seq", L, True), ("node_id", L, True), ("tag_name", S, True),
    ("match_text", S, True))
EVENT_FIELDS = _fields(
    ("event_seq", L, False), ("cb_idx", L, False), ("kind", S, False),
    ("tag_name", S, False))
KEY_ORDERED = ["explode_nodes", "selector_matches", "callback_events",
               "callback_events_attr"]


def _check_key_ordered(df, kernel, keys):
    """A kernel whose key fields follow ``key_cols``, against its
    replay."""
    from htmlparser_spark.kernel import explode_nodes
    from htmlparser_spark.operators.select import (
        callback_events,
        selector_matches,
    )

    if kernel == "explode_nodes":
        out, fields, fn = (explode_nodes(df, key_cols=keys), NODE_FIELDS,
                           _nodes)
    elif kernel == "selector_matches":
        out, fields, fn = (selector_matches(df, "ul > li", key_cols=keys),
                           MATCH_FIELDS, _li_matches)
    else:
        attr = "id" if kernel == "callback_events_attr" else None
        out = callback_events(df, ["li", None], key_cols=keys, attr=attr)
        fields = EVENT_FIELDS + (_fields(("id_attr", S, False))
                                 if attr else [])
        fn = _events(attr)
    _check(out, [SCHEMA[k] for k in keys] + fields,
           _flat_replay(df, fn, keys))


@pytest.mark.parametrize("kernel", KEY_ORDERED)
def test_key_ordered_kernels(docs, kernel):
    # without partition 2, whose output batch is empty (next test)
    _check_key_ordered(docs.where("doc_id < 6"), kernel, ("url", "doc_id"))


@pytest.mark.parametrize("kernel", KEY_ORDERED)
def test_key_ordered_kernels_empty_batch(docs, kernel):
    """Partition 2's NULL texts give an empty output batch, whose
    arrays still carry their declared types: a ``map`` for ``attrs``
    and a timestamp for the ``ts`` key."""
    _check_key_ordered(docs, kernel, KEYS)


def test_content_blocks(docs):
    from htmlparser_spark.operators.content import content_blocks

    out = content_blocks(docs, key_cols=KEYS, min_text_len=10)
    fields = [DOC_ID, TS] + _fields(
        ("node_id", I, False), ("tag_name", S, False),
        ("text_chars", L, False), ("anchor_chars", L, False),
        ("kept", B, False))
    _check(out, fields, _flat_replay(
        docs, lambda s: score_blocks(parse(s), min_text_len=10),
        ("doc_id", "ts")))


def test_extract_table_cells(docs):
    from htmlparser_spark.operators.tables import extract_table_cells

    fields = [DOC_ID, TS] + _fields(
        ("table_idx", I, False), ("row_idx", I, False),
        ("col_idx", I, False), ("is_header", B, False),
        ("cell_text", S, False))
    _check(extract_table_cells(docs, key_cols=KEYS), fields,
           _flat_replay(docs, lambda s: extract_tables(parse(s)),
                        ("doc_id", "ts")))


@pytest.mark.parametrize("base_col", [None, "url"])
def test_extract_doc_links(docs, base_col):
    from htmlparser_spark.operators.webgraph import extract_doc_links

    fields = [DOC_ID, TS] + _fields(
        ("link_idx", I, False), ("href", S, False), ("href_abs", S, True),
        ("anchor_text", S, False), ("nofollow", B, False))
    _check(extract_doc_links(docs, key_cols=KEYS, base_col=base_col),
           fields,
           _flat_replay(docs, lambda s, base=None: extract_links_fused(
               s, resolve_against=base), ("doc_id", "ts"),
               (base_col,) if base_col else ()))

