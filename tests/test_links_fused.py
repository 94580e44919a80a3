"""Differential test: one-pass link extraction vs the Doc path.

``extract_links_fused(s, b)`` must equal ``extract_links(parse(s), b)``
on all five columns (link_idx, href, href_abs, anchor_text, nofollow),
with and without a base URL, over the fuzz grammar and its truncated
prefixes, the transcripts grammar, the golden probes, hand cases, and
an anchor-dense token-fuzz family (the fuzz grammar alone yields few
links)."""

import random

import pytest

from htmlparser_spark.htmldom import parse
from htmlparser_spark.htmldom.links import extract_links, extract_links_fused
from htmlparser_spark.sources.transcripts import generate_rows
from tests.test_differential_reference import gen_doc
from tests.test_extraction_goldens import PROBES_RAW

BASES = (None, "https://ex.com/a/b?q=1#frag")


def assert_equiv(s: str) -> list:
    """Checks every base; returns the rows without a base."""
    doc = parse(s)
    for base in reversed(BASES):
        exp = extract_links(doc, base)
        assert extract_links_fused(s, base) == exp, (repr(s), base)
    return exp


def test_links_fused_fuzz_grammar():
    rng = random.Random(44556677)
    docs = [gen_doc(rng) for _ in range(4000)]
    docs += [d[: rng.randint(0, len(d))] for d in docs if d]
    n_links = sum(len(assert_equiv(d)) for d in docs)
    assert n_links > 100


def test_links_fused_transcripts_grammar():
    rows = generate_rows(n_convs=40, n_turns=400, seed=3, mega_text=False)
    for r in rows:
        assert_equiv(r[3])


def test_links_fused_probe_cases():
    for inp, _ in PROBES_RAW:
        assert_equiv(inp)


HAND = [
    # (input, expected rows without a base)
    ("", []),
    ("<a href=x>t</a><a>skip</a>", [(0, "x", None, "t", False)]),
    ("<a href=/o>out <a href=/i>in</a> tail</a>",
     [(0, "/o", None, "out in tail", False), (1, "/i", None, "in", False)]),
    # a block close pops the anchor that opened above it
    ("<div><a href=x>t</div>after", [(0, "x", None, "t", False)]),
    ("<div><a href=x>t<p>u</div>v</a>", [(0, "x", None, "t u", False)]),
    ("<a href=x>a<br>b<hr>c<div/>d</a>",
     [(0, "x", None, "a b c d", False)]),
    ("<a href=x>a<br/>b<br></a>", [(0, "x", None, "a b", False)]),
    ("<a href=x><script>s<b>t</script>u</a>",
     [(0, "x", None, "s<b>t u", False)]),
    ("<a href=x/>text", [(0, "x/", None, "text", False)]),
    ("<a href=x />text", [(0, "x", None, "", False)]),
    ("<p>pre<a href=x>eof inside", [(0, "x", None, "eof inside", False)]),
    ("<A HREF=Up>T</A>", [(0, "Up", None, "T", False)]),
    ('<a href=one href=two>d</a>', [(0, "onetwo", None, "d", False)]),
    ('<a href=x rel="NoFollow ugc">n</a>', [(0, "x", None, "n", True)]),
    ('<a href=x rel="nofollowish">n</a>', [(0, "x", None, "n", False)]),
    ("<a href=x>a<!--c-->b<!--eof", [(0, "x", None, "abeof", False)]),
    ("<a href=x>1 < 2</>3</a>", [(0, "x", None, "1 < 23", False)]),
    ("<a href=x><textarea>q</textarea>r</a>",
     [(0, "x", None, "qr", False)]),
    ("<a name=n>no href</a>", []),
]


@pytest.mark.parametrize("inp,want", HAND)
def test_links_fused_hand_cases(inp, want):
    assert assert_equiv(inp) == want


TOKENS = [
    "<a href=x>", "<a href='y z'>", "<A HREF=Q>", "<a href=''>",
    '<a href="/p?q=1" rel="nofollow">', "<a href=h rel='NoFollow ugc'>",
    "<a href=1 href=2>", "<a href=x/>", "<a href=x />", "<a>", "</a>",
    "</A>", "<div>", "</div>", "<p>", "</p>", "<li>", "</li>", "<table>",
    "<span>", "</span>", "<b>", "</b>", "<br>", "<br/>", "<hr>", "<img>",
    "<div/>", "<script>", "</script>", "<script>x</script>",
    "<textarea>q</textarea>", "<title>T", "<!--c-->", "<!--x", "<?p>",
    "</ x>", "</>", "</x>", " t ", "u\n\tv", "\v", "w", "<", "</", "<!",
    "\x00", "<a\x00 href=x>", "<a href=\x00>", "\ud800", "<a href",
    '<a href="x',
]


def test_links_fused_anchor_dense_token_fuzz():
    rng = random.Random(31337)
    n_links = 0
    for _ in range(5000):
        s = "".join(rng.choice(TOKENS) for _ in range(rng.randint(1, 30)))
        n_links += len(assert_equiv(s))
    assert n_links > 5_000


@pytest.mark.parametrize("inp", [
    "<div>" * 200_000 + "<a href=x>t</a>",
    "<a href=x>" * 1_000 + "t",
    "<a href=x><script>",
    "<a href=x><script>unterminated",
    "<a href=x><script>s</scr",
    "<a\x00b href=x>t</a\x00b><a href=x\x00y>u\x00v</a>",
    "<a href=x>lone \ud800 surrogate</a>",
], ids=["deep_divs", "nested_anchors", "eof_script_open", "eof_script_text",
        "eof_script_close", "nul_names_and_href", "lone_surrogate"])
def test_links_fused_robust(inp):
    """One bad turn must never kill a job: no RecursionError, and the
    same rows as the Doc path."""
    assert_equiv(inp)
