"""Pins for page-metadata extraction (htmldom/meta.py), link
extraction (htmldom/links.py), and integer PageRank
(operators/webgraph.py)."""

from htmlparser_spark.htmldom.links import extract_links
from htmlparser_spark.htmldom.meta import extract_page_meta
from htmlparser_spark.htmldom.parse import parse


FULL_HEAD = (
    '<html lang=en-US><head><title> My  Page </title>'
    '<base href="https://ex.com/a/b">'
    '<link rel="stylesheet alternate" href=/s.css>'
    '<link rel="CANONICAL" href="https://ex.com/c">'
    '<meta charset=utf-8>'
    '<meta name=Description content="first desc">'
    '<meta name=description content="second desc">'
    '<meta name=ROBOTS content="NOINDEX, nofollow">'
    '<meta property="og:title" content="OG T">'
    '<meta property="og:url" content="https://ex.com/og">'
    '</head><body><a href="/d/5">rel <b>link</b></a>'
    '<a href="https://other.com/x" rel="NOFOLLOW sponsored">ext</a>'
    '<a name=anchor>no href</a><a href="">empty</a></body></html>')


def test_page_meta_full():
    m = extract_page_meta(parse(FULL_HEAD))
    assert m == {
        "title": "My Page",            # raw-collapsed + stripped
        "base_href": "https://ex.com/a/b",
        "canonical_url": "https://ex.com/c",   # rel case-insensitive
        "meta_description": "first desc",      # first wins
        "meta_robots": "NOINDEX, nofollow",
        "robots_noindex": True,                # token, case-insens.
        "og_title": "OG T",
        "og_url": "https://ex.com/og",
        "lang": "en-US",
        "charset": "utf-8",
    }


def test_page_meta_empty_and_edge_cases():
    m = extract_page_meta(parse(""))
    assert m["title"] is None and m["robots_noindex"] is False
    # http-equiv charset fallback
    m = extract_page_meta(parse(
        '<meta http-equiv="Content-Type" '
        'content="text/html; charset=ISO-8859-1">'))
    assert m["charset"] == "ISO-8859-1"
    # noindex must be a whole token, not a substring
    m = extract_page_meta(parse('<meta name=robots content="nonoindexy">'))
    assert m["robots_noindex"] is False
    # rel=canonical needs a whole token too
    m = extract_page_meta(parse('<link rel="canonicalish" href=/x>'))
    assert m["canonical_url"] is None


def test_extract_links_semantics():
    links = extract_links(parse(FULL_HEAD),
                          resolve_against="https://ex.com/a/b")
    assert links == [
        (0, "/d/5", "https://ex.com/d/5", "rel link", False),
        (1, "https://other.com/x", "https://other.com/x", "ext", True),
        (2, "", "https://ex.com/a/b", "empty", False),
    ]
    # no base => href_abs None; href-less anchors skipped
    links = extract_links(parse('<a href=x>t</a><a>skip</a>'))
    assert links == [(0, "x", None, "t", False)]


def test_extract_links_nested_anchor_text():
    links = extract_links(parse('<a href=/o>out <a href=/i>in</a></a>'))
    assert [(l[0], l[1], l[3]) for l in links] == [
        (0, "/o", "out in"), (1, "/i", "in")]


def test_spark_surfaces(spark):
    from htmlparser_spark.operators.pagemeta import extract_page_metadata
    from htmlparser_spark.operators.webgraph import extract_doc_links
    from htmlparser_spark.plans import assert_no_python_row_udf

    df = spark.createDataFrame(
        [(1, FULL_HEAD, "https://ex.com/a/b"), (2, None, None)],
        "doc_id long, text string, url string")
    meta = extract_page_metadata(df, drop_text=True)
    assert_no_python_row_udf(meta)
    rows = {r["doc_id"]: r for r in meta.collect()}
    assert rows[1]["canonical_url"] == "https://ex.com/c"
    assert rows[1]["robots_noindex"] is True
    # NULL html: all meta fields NULL (unknown), incl. the bool
    assert rows[2]["robots_noindex"] is None
    assert rows[2]["title"] is None

    links = extract_doc_links(df, text_col="text", base_col="url")
    assert_no_python_row_udf(links)
    got = [(r["doc_id"], r["link_idx"], r["href_abs"], r["nofollow"])
           for r in links.collect()]
    assert sorted(got) == [
        (1, 0, "https://ex.com/d/5", False),
        (1, 1, "https://other.com/x", True),
        (1, 2, "https://ex.com/a/b", False),
    ]


def test_pagerank_hand_golden(spark):
    """edges 1->2, 1->3, 2->1 (plus a parallel duplicate that must
    collapse), scale=1000, d=85/100, 3 iterations — every number
    below is floor-arithmetic by hand."""
    from htmlparser_spark.operators.webgraph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 1), (1, 2)], "src long, dst long")
    got = {r["node"]: r["rank"]
           for r in pagerank(edges, iterations=3, scale=1000).collect()}
    # i1: r=(1000,575,575); i2: r=(638,575,575); i3: n1=(15000+85*575)//100
    assert got == {1: 638, 2: 421, 3: 421}


def test_pagerank_dangling_and_isolated(spark):
    """node 3 is dangling (no outlinks): its mass drops, never NaNs.
    One iteration, by hand: shares 1->500 each to 2,3; 2->1000 to 1."""
    from htmlparser_spark.operators.webgraph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 1)], "src long, dst long")
    got = {r["node"]: r["rank"]
           for r in pagerank(edges, iterations=1, scale=1000).collect()}
    assert got == {1: 1000, 2: 575, 3: 575}


def test_anchor_text_index(spark):
    from htmlparser_spark.operators.webgraph import anchor_text_index

    rows = [
        # hot target: 'buy' x2, 'shop' x2 (tie -> anchor asc), 'z' x1
        ("t1", "buy", False), ("t1", "buy", True),
        ("t1", "shop", False), ("t1", "shop", False),
        ("t1", "z", False),
        ("t2", "only", False),
        (None, "dropped", False),        # NULL target rows drop
    ]
    df = spark.createDataFrame(
        rows, "href_abs string, anchor_text string, nofollow boolean")
    got = {r["target"]: r for r in
           anchor_text_index(df, top_k=2).collect()}
    assert set(got) == {"t1", "t2"}
    assert (got["t1"]["n_links"], got["t1"]["n_nofollow"]) == (5, 1)
    # count desc, then anchor asc: buy(2) before shop(2); z cut at k=2
    assert got["t1"]["top_anchors"] == ["buy", "shop"]
    assert got["t2"]["top_anchors"] == ["only"]


def test_map_only_plans_no_exchange(spark):
    """The four new extraction surfaces are map-only Arrow stages —
    no Exchange may appear anywhere in their plans."""
    from htmlparser_spark.operators.pagemeta import extract_page_metadata
    from htmlparser_spark.operators.tables import extract_table_cells
    from htmlparser_spark.operators.webgraph import extract_doc_links
    from htmlparser_spark.plans import explain_string

    df = spark.createDataFrame(
        [(1, "<p>x</p>", "https://e.com/")],
        "doc_id long, text string, url string")
    for out in (extract_page_metadata(df, drop_text=True),
                extract_table_cells(df),
                extract_doc_links(df, base_col="url")):
        assert "Exchange" not in explain_string(out)


def test_extract_doc_links_matches_doc_path(spark):
    """Every column of the Spark surface equals the Doc path. The
    benchmark gate hashes only (keys, link_idx, href), so anchor_text,
    nofollow and href_abs are pinned here."""
    from htmlparser_spark.operators.webgraph import extract_doc_links

    pages = [
        (1, FULL_HEAD, "https://ex.com/a/b"),
        (2, None, "https://ex.com/"),                  # NULL html
        (3, "<p>no links <a name=n>here</a></p>", "https://ex.com/"),
        (4, '<a href=/o rel="UGC NoFollow">out <a href=i>in</a>'
            '<div>blk</div>tail</a><div><a href=#f>a<br>b</div>',
         "https://ex.com/d/"),
        (5, "<a href=rel/x>x</a><a href=y/>eof <b>in", None),  # NULL base
    ]
    df = spark.createDataFrame(pages, "doc_id long, text string, url string")
    got = sorted(tuple(r) for r in
                 extract_doc_links(df, text_col="text", base_col="url")
                 .collect())
    want = sorted((doc_id, *link) for doc_id, html, url in pages
                  if html is not None
                  for link in extract_links(parse(html), url))
    assert got == want
    assert {r[0] for r in got} == {1, 4, 5}
    assert any(r[5] for r in got) and any(r[4] for r in got)
